"""DuckDB-SQL → Spark-SQL dialect shims for ``sql`` stages.

The reference's ``sql`` stage interpolates user SQL straight into DuckDB
(reference ``filefilter.py:340-342``), so user configs are written in
DuckDB dialect. This module is a *pre-parse string rewriter* (SURVEY.md
§4.3) — no custom Catalyst rules; everything lands in vanilla Spark SQL.

Shims implemented:
- ``SELECT * EXCLUDE(a, b)`` → ``SELECT * EXCEPT(a, b)`` (the one
  DuckDB-ism the reference's examples actually use —
  ``examples/fullExample/fullExample.yml:102-103``).
- ``QUALIFY <pred>`` → windowed subquery + WHERE (Spark has no QUALIFY).
- DuckDB function names → Spark equivalents (``list_*`` → ``array_*``,
  ``string_split`` → ``split``, ``regexp_matches`` → ``rlike`` etc.).
- ``strftime(ts, '%Y-%m-%d')`` → ``date_format(ts, 'yyyy-MM-dd')``
  including %-code translation.

Limitations are documented, not hidden: rewrites are token-aware enough
for real configs but not a full SQL parser; ``ASOF JOIN`` raises with a
pointer to :mod:`filefilter_spark.ops.asof`.
"""

from __future__ import annotations

import re

# Direct function-name substitutions (word-boundary, case-insensitive).
_FN_RENAMES = {
    "list_distinct": "array_distinct",
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "list_sort": "array_sort",
    "list_concat": "concat",
    "list_transform": "transform",
    "list_filter": "filter",
    "list_aggregate": "aggregate",
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    "list_min": "array_min",
    "list_max": "array_max",
    "array_to_string": "array_join",
    # string_split/str_split/string_to_array are arg-aware rewrites
    # (_rewrite_string_split): their separator is a LITERAL in DuckDB
    # but a Java regex in Spark's split(). regexp_split_to_array is
    # regex in both — plain rename.
    "regexp_split_to_array": "split",
    "strpos": "instr",
    "list_value": "array",
    "array_length": "size",
    # NOTE: no ``len`` rename — Spark evaluates ``len`` natively for
    # string/binary (same as DuckDB's string case); DuckDB's *list*
    # ``len(l)`` has no type-polymorphic Spark twin, so an explicit
    # rename would only swap one analysis error for a more confusing
    # one. List length: write ``array_length(l)`` (mapped to ``size``).
    "strlen": "length",
    "regexp_matches": "rlike",  # both are partial-match boolean
    "epoch_ms": "unix_millis",
    # approximate: full-match pattern authors anchor with ^$
    "regexp_full_match": "regexp_like",
}

# DuckDB strftime %-codes → JDK DateTimeFormatter patterns.
_STRFTIME_CODES = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd",
    "%H": "HH", "%M": "mm", "%S": "ss", "%f": "SSSSSS",
    "%j": "DDD", "%a": "EEE", "%A": "EEEE", "%b": "MMM", "%B": "MMMM",
    "%%": "%",
}


class DialectError(ValueError):
    pass


def _rewrite_exclude(sql: str) -> str:
    # SELECT * EXCLUDE (a, b)  /  tbl.* EXCLUDE(a)  → Spark's EXCEPT.
    # DuckDB also allows the bare single-column form `* EXCLUDE col`;
    # Spark's EXCEPT requires parens, so wrap it.
    out = re.sub(r"(?i)(\*\s*)EXCLUDE(\s*\()", r"\1EXCEPT\2", sql)
    return re.sub(
        r'(?i)(\*\s*)EXCLUDE\s+("?[A-Za-z_][\w$]*"?)', r"\1EXCEPT(\2)", out
    )


def _rewrite_call(sql: str, fname: str, rewrite) -> str:
    """Rewrite every ``fname(args)`` call via ``rewrite(inner) -> str``.

    The arg list is found with an explicit depth scan, not a regex —
    args like ``date_trunc('day', CAST(s AS TIMESTAMP))`` nest parens
    arbitrarily deep and a regex can only approximate one level.
    """
    call_re = re.compile(rf"(?i)\b{fname}\s*\(")
    out, pos = [], 0
    while True:
        m = call_re.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        depth, in_str, i = 1, False, m.end()
        while i < len(sql) and depth:
            ch = sql[i]
            if in_str:
                if ch == "'":
                    in_str = False
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        out.append(sql[pos : m.start()])
        # Recurse into the arg text first: a nested same-name call
        # (list_reverse_sort(list_reverse_sort(x))) sits inside the span
        # this match consumes and would otherwise never be rewritten.
        out.append(rewrite(_rewrite_call(sql[m.end() : i - 1], fname, rewrite)))
        pos = i


def _rewrite_strftime(sql: str) -> str:
    # strftime(expr, '%Y-%m-%d') → date_format(expr, 'yyyy-MM-dd').
    # DuckDB also accepts (fmt, expr) order; detect by which arg is the
    # quoted literal containing %-codes.
    def one(inner: str) -> str:
        parts = _split_top_level(inner)
        if len(parts) != 2:
            return f"strftime({inner})"
        a, b = (p.strip() for p in parts)
        if a.startswith("'") and "%" in a:
            fmt, expr = a, b
        else:
            fmt, expr = b, a
        if not (fmt.startswith("'") and fmt.endswith("'")):
            return f"strftime({inner})"  # non-literal format: leave as-is
        # Char walk (NOT dict.replace over the whole string): '%%' must
        # consume positionally before any %-code (dict order would turn
        # the literal '%Y' of '%%Y' into '%yyyy'), and literal runs
        # containing letters must be JDK-quoted ('T' unquoted is a
        # pattern letter DateTimeFormatter rejects).
        content = fmt[1:-1]
        out_parts: list[str] = []
        lit: list[str] = []

        def flush() -> None:
            if not lit:
                return
            txt = "".join(lit)
            if any(ch.isalpha() for ch in txt) or "'" in txt:
                txt = "'" + txt.replace("'", "''") + "'"
            out_parts.append(txt)
            lit.clear()

        i = 0
        while i < len(content):
            ch = content[i]
            if ch == "%" and i + 1 < len(content):
                code = content[i : i + 2]
                if code == "%%":
                    lit.append("%")
                    i += 2
                    continue
                if code in _STRFTIME_CODES:
                    flush()
                    out_parts.append(_STRFTIME_CODES[code])
                    i += 2
                    continue
            lit.append(ch)
            i += 1
        flush()
        pattern = "".join(out_parts).replace("'", "\\'")
        return f"date_format({expr}, '{pattern}')"

    return _rewrite_call(sql, "strftime", one)


def _rewrite_list_unique(sql: str) -> str:
    # DuckDB list_unique(l) returns the COUNT of distinct elements
    # (BIGINT), not the deduplicated list — the Spark shape is
    # size(array_distinct(l)), an arg-wrapping rewrite rather than a
    # name substitution.
    return _rewrite_call(
        sql, "list_unique", lambda inner: f"size(array_distinct({inner}))"
    )


def _rewrite_list_reverse_sort(sql: str) -> str:
    # DuckDB list_reverse_sort(l) — Spark spells the direction as a
    # second argument: sort_array(l, false).
    return _rewrite_call(
        sql, "list_reverse_sort", lambda inner: f"sort_array({inner}, false)"
    )


_REGEX_METAS = set("\\^$.|?*+()[]{}")


def _rewrite_string_split(sql: str) -> str:
    # DuckDB string_split(s, sep) splits on a LITERAL separator; Spark
    # split(s, re) takes a Java regex, so '.', '|', '+', '(' separators
    # would silently split on everything / fail to parse. Literal
    # separators get their regex metacharacters escaped; a non-literal
    # separator expression falls through to the bare rename (regex
    # semantics — the caller is writing dynamic SQL and on their own).
    def one(inner: str) -> str:
        parts = _split_top_level(inner)
        if len(parts) == 2:
            s_arg, sep = (p.strip() for p in parts)
            if sep.startswith("'") and sep.endswith("'") and len(sep) >= 2:
                content = sep[1:-1]
                esc = "".join(
                    ("\\\\" + ch) if ch in _REGEX_METAS else ch
                    for ch in content
                )
                return f"split({s_arg}, '{esc}')"
        return f"split({inner})"

    for name in ("string_split", "str_split", "string_to_array"):
        sql = _rewrite_call(sql, name, one)
    return sql


def _rewrite_epoch(sql: str) -> str:
    # DuckDB epoch(ts) returns DOUBLE seconds WITH the fraction; Spark's
    # unix_timestamp truncates to whole seconds — wrap through
    # unix_micros to preserve sub-second precision. (epoch_ms stays a
    # plain rename to unix_millis; longer names match first there.)
    return _rewrite_call(
        sql, "epoch", lambda inner: f"(unix_micros({inner}) / 1000000.0)"
    )


def _rewrite_list_slice(sql: str) -> str:
    # DuckDB list_slice(l, b, e) is 1-based INCLUSIVE [b, e]; Spark
    # slice(l, start, length) takes a length — translate symbolically
    # as length = e - b + 1. Negative integer LITERALS are DuckDB
    # from-the-end indices (-1 = last) and are resolved against
    # size(l): index = size(l) + n + 1. An empty DuckDB range (e < b)
    # maps to length 0 via greatest(). Non-literal arguments are
    # translated assuming non-negative values (sign is unknowable at
    # translation time); the 4-arg step form stays untranslated and
    # fails loudly rather than silently mis-slicing.
    def one(inner: str) -> str:
        parts = [p.strip() for p in _split_top_level(inner)]
        if len(parts) != 3:
            return f"list_slice({inner})"
        l, b, e = parts

        def idx(x: str) -> str:
            if re.fullmatch(r"-\s*\d+", x):
                return f"(size({l}) + ({x}) + 1)"
            return f"({x})"

        bi, ei = idx(b), idx(e)
        return f"slice({l}, {bi}, greatest({ei} - {bi} + 1, 0))"

    return _rewrite_call(sql, "list_slice", one)


def _split_top_level(s: str) -> list[str]:
    """Split on commas not nested in parens/quotes."""
    parts, depth, cur, i = [], 0, [], 0
    in_str = False
    while i < len(s):
        ch = s[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _scan_top_level(sql: str, pattern: re.Pattern, start: int = 0) -> re.Match | None:
    """First match of ``pattern`` at paren-depth 0 outside string
    literals — so ``ORDER BY`` inside an ``OVER(...)`` clause or a
    subquery never counts as the statement tail."""
    depth = 0
    in_str = False
    i = start
    while i < len(sql):
        ch = sql[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = pattern.match(sql, i)
            if m:
                return m
        i += 1
    return None


_QUALIFY_RE = re.compile(r"(?is)\bQUALIFY\b")
_TAIL_RE = re.compile(r"(?is)\b(ORDER\s+BY|LIMIT)\b")
_FROM_RE = re.compile(r"(?is)\bFROM\b")
_OVER_RE = re.compile(r"(?is)\bOVER\s*\(")


def _rewrite_qualify_all(sql: str) -> str:
    """Rewrite every ``QUALIFY`` at any nesting depth, innermost first.

    A QUALIFY inside a CTE body or derived table sits at paren depth
    > 0 where the top-level scanner can't see it; locate its enclosing
    paren block and apply the statement-level rewrite to that
    substatement, then repeat until none remain."""
    for _ in range(32):  # progress-bounded, not load-bearing
        depth, in_str, found = 0, False, None
        i = 0
        opens: list[int] = []
        while i < len(sql):
            ch = sql[i]
            if in_str:
                if ch == "'":
                    in_str = False
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
                opens.append(i)
            elif ch == ")":
                depth -= 1
                if opens:
                    start = opens.pop()
                    if found is not None and found > start:
                        inner = sql[start + 1 : i]
                        sql = sql[: start + 1] + _rewrite_qualify(inner) + sql[i:]
                        break
            elif depth > 0 and found is None and _QUALIFY_RE.match(sql, i):
                found = i
            i += 1
        else:
            return _rewrite_qualify(sql)
    return sql  # pragma: no cover - rewrite loop bound


def _rewrite_qualify(sql: str) -> str:
    """Rewrite DuckDB's ``QUALIFY`` (window-aware post-filter).

    One shape covers every predicate form (scanned paren-depth-aware,
    OP-B36 round-trips through ``spark.sql`` in tests/test_dialect.py):
    inject ``(pred) AS __qualify__`` into the SELECT list — where window
    expressions are legal, where Spark's lateral column alias resolution
    covers predicates referencing select-list aliases (``QUALIFY rn =
    1``), and where SOURCE columns outside the projection still resolve
    (DuckDB's QUALIFY filters before projection: ``SELECT k FROM ranked
    QUALIFY rn = 1`` sees ``ranked.rn``) — then filter and drop it one
    level up. An earlier two-path version filtered alias-only
    predicates OUTSIDE the wrapped statement, which broke exactly that
    source-column case."""
    m = _scan_top_level(sql, _QUALIFY_RE)
    if not m:
        return sql
    head, rest = sql[: m.start()], sql[m.end():]
    tail_m = _scan_top_level(rest, _TAIL_RE)
    if tail_m:
        pred, tail = rest[: tail_m.start()], rest[tail_m.start():]
    else:
        pred, tail = rest, ""
    pred = pred.strip().rstrip(";")
    tail = tail.strip().rstrip(";")
    head = head.rstrip()

    from_m = _scan_top_level(head, _FROM_RE)
    if from_m is None:
        raise DialectError(f"QUALIFY rewrite: no top-level FROM in: {sql!r}")
    select_part, from_part = head[: from_m.start()].rstrip(), head[from_m.start():]
    inner = f"{select_part}, ({pred}) AS __qualify__ {from_part}"
    return (
        f"SELECT * EXCEPT(__qualify__) FROM ({inner}) WHERE __qualify__ {tail}".strip()
    )


def _rewrite_fn_names(sql: str) -> str:
    names = "|".join(sorted(_FN_RENAMES, key=len, reverse=True))
    return re.sub(
        rf"(?i)\b({names})\s*\(",
        lambda m: _FN_RENAMES[m.group(1).lower()] + "(",
        sql,
    )


def _strip_sql(sql: str) -> str:
    return sql.strip().rstrip(";").strip()


def translate(sql: str) -> str:
    """Translate a DuckDB-dialect ``sql`` stage statement to Spark SQL."""
    if re.search(r"(?is)\bASOF\s+JOIN\b", sql):
        raise DialectError(
            "ASOF JOIN is not a Spark SQL primitive; use "
            "filefilter_spark.ops.asof.asof_join (SURVEY.md OP-B10)"
        )
    if re.search(r"(?is)\bread_csv(_auto)?\s*\(|\bread_parquet\s*\(", sql):
        raise DialectError(
            "file-reading table functions are engine-level sources, not "
            "stage SQL (SURVEY.md §4.3); configure the pipeline input instead"
        )
    out = _strip_sql(sql)
    out = _rewrite_exclude(out)
    out = _rewrite_qualify_all(out)
    out = _rewrite_strftime(out)
    out = _rewrite_list_unique(out)
    out = _rewrite_list_reverse_sort(out)
    out = _rewrite_list_slice(out)
    out = _rewrite_string_split(out)
    out = _rewrite_epoch(out)
    out = _rewrite_fn_names(out)
    return out
