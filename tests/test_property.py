"""Property-based differential testing (SURVEY.md §5.2 #4): random
predicate trees over lineitem must agree between Spark SQL and DuckDB —
sqllogictest-style fuzzing with DuckDB as the oracle, at sf0.001."""

import math
import struct

import duckdb
import numpy as np
import pytest
from hypothesis import HealthCheck, assume, given, settings, strategies as st
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from tests.conftest import SF_DIR

# --- random predicate grammar over lineitem --------------------------------

_num_atom = st.one_of(
    st.tuples(
        st.sampled_from(["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
        st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]),
        st.integers(min_value=0, max_value=60),
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.tuples(
        st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)
    ).map(lambda t: f"l_quantity BETWEEN {min(t)} AND {max(t)}"),
)

_str_atom = st.one_of(
    st.sampled_from(["A", "N", "R"]).map(lambda v: f"l_returnflag = '{v}'"),
    st.lists(st.sampled_from(["O", "F"]), min_size=1, max_size=2, unique=True).map(
        lambda vs: "l_linestatus IN (" + ", ".join(f"'{v}'" for v in vs) + ")"
    ),
    st.sampled_from(["1994", "1995", "1996"]).map(
        lambda y: f"l_shipdate < TIMESTAMP '{y}-06-17 00:00:00'"
    ),
)

_atom = st.one_of(_num_atom, _str_atom)


def _combine(children):
    pred = st.one_of(
        st.tuples(children, children).map(lambda t: f"({t[0]} AND {t[1]})"),
        st.tuples(children, children).map(lambda t: f"({t[0]} OR {t[1]})"),
        children.map(lambda c: f"(NOT {c})"),
    )
    return pred


predicates = st.recursive(_atom, _combine, max_leaves=6)


@pytest.fixture
def duck():
    """A DuckDB connection per test function: an error one property
    test provokes in DuckDB cannot leave a shared connection broken for
    the next test."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{SF_DIR}/lineitem.parquet')"
    )
    yield con
    con.close()


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=predicates)
def test_random_predicates_agree(spark, duck, pred):
    sql = (
        "SELECT count(*) AS n, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s "
        f"FROM lineitem WHERE {pred}"
    )
    s_row = spark.sql(sql).first()
    try:
        d_row = duck.execute(sql).fetchone()
    except duckdb.InternalException:
        # DuckDB 1.0.0 assertion failure in ITS optimizer on degenerate
        # redundant-BETWEEN predicates pushed into a parquet scan (e.g.
        # "(x BETWEEN 0 AND 0 AND x BETWEEN 0 AND 1) OR (same)") — the
        # oracle engine crashed, so the example proves nothing about
        # parity; reject it and let hypothesis draw another.
        assume(False)
    except duckdb.Error:
        # Transient error from the test's connection (observed once
        # as an I/O-class exception mid full-suite run).
        # Retry on a fresh connection: a genuine oracle failure or SQL
        # error reproduces and still fails the test; a transient one
        # doesn't flake the suite.
        with duckdb.connect() as con2:
            con2.execute(
                "CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/lineitem.parquet')"
            )
            d_row = con2.execute(sql).fetchone()
    assert s_row["n"] == d_row[0], f"count mismatch for {pred}"
    assert (s_row["s"] is None) == (d_row[1] is None)
    if s_row["s"] is not None:
        assert s_row["s"] == pytest.approx(d_row[1], abs=1e-6), f"sum mismatch for {pred}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.sampled_from(["l_returnflag", "l_linestatus", "l_linenumber"]),
        min_size=1, max_size=2, unique=True,
    )
)
def test_random_groupby_agree(spark, duck, keys):
    cols = ", ".join(keys)
    sql = f"SELECT {cols}, count(*) AS n FROM lineitem GROUP BY {cols}"
    s = {tuple(r[k] for k in keys): r["n"] for r in spark.sql(sql).collect()}
    d_rows = duck.execute(sql).fetchall()
    d = {tuple(r[:-1]): r[-1] for r in d_rows}
    assert s == d


@pytest.fixture(scope="module", autouse=True)
def _register_lineitem_view(spark):
    from filefilter_spark.queries.registry import load_table

    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView("lineitem")


# --- money rounding vs exact Decimal HALF_UP -------------------------------

@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=1, max_size=50,
))
def test_to_cents_matches_decimal_half_up(spark, xs):
    """to_cents must equal quantize(ROUND_HALF_UP) applied to the DOUBLE
    PRODUCT x*100 for any sign — the codegen-friendly signum/floor form
    may not drift from the reference semantics it claims.

    The reference point is Decimal(x * 100) (the double product, which
    is what floor(abs(x)*100 + 0.5) actually sees), not
    Decimal(x) * 100 exactly: double multiplication rounds once, and
    both formulations live downstream of that same rounding.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from filefilter_spark.ops.money import to_cents

    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = [r.c for r in df.select(to_cents(df.x).alias("c")).collect()]
    want = [
        int(Decimal(x * 100).quantize(Decimal("1"), rounding=ROUND_HALF_UP))
        for x in xs
    ]
    assert got == want


# --- dialect-translation fuzzing -------------------------------------------
# Random DuckDB-dialect scalar expressions (list/string/time functions,
# nested arbitrarily) must translate to Spark SQL that returns the same
# values DuckDB returns for the original. Catches arg-wrapping and
# rename bugs under composition that the hand-written cases miss.

_arr_expr = st.recursive(
    st.sampled_from(["arr", "list_value(1, 2, 2, 3)", "list_value(7)"]),
    lambda inner: st.one_of(
        inner.map(lambda a: f"list_distinct({a})"),
        inner.map(lambda a: f"list_sort({a})"),
        inner.map(lambda a: f"list_reverse_sort({a})"),
        st.tuples(inner, st.integers(1, 3)).map(
            lambda t: f"list_append({t[0]}, {t[1]})"
        ),
    ),
    max_leaves=3,
)

_scalar_expr = st.one_of(
    _arr_expr.map(lambda a: f"list_unique({a})"),
    _arr_expr.map(lambda a: f"list_min({a})"),
    _arr_expr.map(lambda a: f"list_max({a})"),
    st.tuples(_arr_expr, st.integers(1, 3)).map(
        lambda t: f"list_contains({t[0]}, {t[1]})"
    ),
    # DuckDB's list_distinct result ORDER is unspecified (differs from
    # Spark's first-occurrence order), so the one order-sensitive
    # consumer sorts first — set semantics are what the rename promises.
    _arr_expr.map(lambda a: f"array_to_string(list_sort({a}), '-')"),
    st.sampled_from(["%Y-%m-%d", "%H:%M", "%Y/%m"]).map(
        lambda f: f"strftime(ts, '{f}')"
    ),
    # DuckDB also accepts (fmt, expr) order
    st.sampled_from(["%Y-%m-%d", "%H:%M"]).map(lambda f: f"strftime('{f}', ts)"),
    st.sampled_from(["ll", "o", "zz"]).map(lambda sub: f"strpos(s, '{sub}')"),
    st.tuples(_arr_expr.map(lambda a: f"list_sort({a})"),
              st.integers(1, 2), st.integers(2, 4)).map(
        lambda t: f"list_min(list_slice({t[0]}, {min(t[1], t[2])}, {max(t[1], t[2])}))"
    ),
    st.just("epoch(ts)"),
    st.just("epoch(ts + INTERVAL 1 SECOND)"),
)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_scalar_expr)
def test_dialect_translation_differential(spark, expr):
    from filefilter_spark.dialect import translate

    duck_sql = f"SELECT {expr} AS e FROM t"
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT [3, 1, 2, 1] AS arr, 'hello' AS s, "
        "TIMESTAMP '2026-03-04 05:06:07' AS ts"
    )
    want = con.execute(duck_sql).fetchall()[0][0]

    spark.sql(
        "SELECT array(3, 1, 2, 1) AS arr, 'hello' AS s, "
        "TIMESTAMP '2026-03-04 05:06:07' AS ts"
    ).createOrReplaceTempView("t")
    got = spark.sql(translate(duck_sql)).collect()[0][0]
    assert got == want, f"{expr!r}: spark={got!r} duckdb={want!r}"


# --- line-level dedup vs a direct Python reference -------------------------

_line_texts = st.lists(
    st.lists(
        st.sampled_from([
            "short",
            "x",
            "a boilerplate line easily exceeding the thirty char bar",
            "another long line that is also past the minimum length",
            "  A Boilerplate   LINE easily exceeding the thirty char bar ",
            "",
        ]),
        min_size=1, max_size=5,
    ),
    min_size=1, max_size=8,
)


def _line_dedup_reference(docs: list[list[str]], min_len: int = 30):
    """Direct transcription of the documented semantics: global first
    occurrence per normalized line (length >= min_len), docs reassembled
    from survivors, empty docs dropped."""
    import re

    seen = set()
    out = {}
    for doc_id, lines in enumerate(docs):
        kept = []
        for line in lines:
            norm = re.sub(r"\s+", " ", line.lower()).strip()
            if len(norm) < min_len:
                kept.append(line)
            elif norm not in seen:
                seen.add(norm)
                kept.append(line)
        if kept:
            out[doc_id] = ("\n".join(kept), len(kept), len(lines) - len(kept))
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_line_texts)
def test_line_dedup_matches_python_reference(spark, docs):
    from filefilter_spark.ops.dedup import line_dedup

    df = spark.createDataFrame(
        [(i, "\n".join(lines)) for i, lines in enumerate(docs)],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
        for r in line_dedup(df).collect()
    }
    assert got == _line_dedup_reference(docs)


# --- repeat_sample: epoch-repeat semantics vs a direct reference ------------

def _repeat_reference(rows, rates, default_rate=1.0, seed=42):
    """Direct transcription of repeat_sample's documented semantics:
    floor(rate) full epochs + a fractional epoch kept iff the md5
    prefix of id||'#rep'||seed||'#e'||epoch clears the cutoff."""
    import hashlib
    import math

    out = []
    for doc_id, source in rows:
        rate = rates.get(source, default_rate)
        full = int(math.floor(rate))
        frac = rate - full
        cutoff = format(int(frac * (16 ** 8)), "08x")
        for e in range(full + 1):
            if e < full:
                out.append((doc_id, source, e))
            else:
                h = hashlib.md5(
                    f"{doc_id}#rep{seed}#e{e}".encode()).hexdigest()[:8]
                if h < cutoff:
                    out.append((doc_id, source, e))
    return sorted(out)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rates=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.one_of(st.integers(0, 3).map(float),
                  st.floats(0.0, 3.5, allow_nan=False, width=32)
                  .map(lambda x: round(x, 3))),
        min_size=1, max_size=3,
    ),
    n=st.integers(min_value=1, max_value=60),
)
def test_repeat_sample_matches_python_reference(spark, rates, n):
    from filefilter_spark.ops.corpus import repeat_sample

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    got = sorted(
        (r["doc_id"], r["source"], r["epoch"])
        for r in repeat_sample(df, rates).collect()
    )
    assert got == _repeat_reference(rows, rates)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    strs=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=12),
        min_size=2, max_size=14,
    ),
    d=st.integers(min_value=0, max_value=3),
    q=st.integers(min_value=2, max_value=3),
)
def test_edit_distance_pairs_differential(spark, strs, d, q):
    """edit_distance_pairs == quadratic python levenshtein on random
    low-alphabet short strings — exercises the prefix index, the
    short-string block, their boundary (T = q*(d+1)), empty strings,
    and duplicate values, for every (d, q) combination."""
    import itertools

    from filefilter_spark.ops.dedup import edit_distance_pairs

    rows = list(enumerate(strs))
    df = spark.createDataFrame(rows, "doc_id long, s string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expect = sorted(
        (a, b, lev(sa, sb))
        for (a, sa), (b, sb) in itertools.combinations(rows, 2)
        if lev(sa, sb) <= d
    )
    got = sorted(
        tuple(r) for r in edit_distance_pairs(df, max_dist=d, q=q).collect()
    )
    assert got == expect


# --- python stage: column builder vs per-cell coercion ----------------------

class _Str(str):
    pass


_stage_cells = st.one_of(
    st.none(),
    st.just(float("nan")),
    st.booleans(),
    st.integers(),
    st.floats(allow_nan=False),
    st.integers(-(2**63), 2**63 - 1).map(np.int64),
    st.floats().map(np.float64),
    st.text(max_size=4),
    st.text(max_size=4).map(_Str),
    st.dictionaries(st.text(max_size=2), st.integers(), max_size=2),
    st.lists(st.integers(), max_size=2),
)


def _same_cell(a, b):
    return type(a) is type(b) and (a == b or (a != a and b != b))


@settings(max_examples=200, deadline=None)
@given(
    values=st.one_of(
        st.lists(_stage_cells, max_size=8),
        # one native type with nulls: the lists the builder passes through
        st.sampled_from([st.text(max_size=4), st.floats(), st.integers(), st.booleans()])
        .flatmap(lambda s: st.lists(st.one_of(st.none(), s), max_size=8)),
    ),
    dt=st.sampled_from([
        StringType(), DoubleType(), FloatType(), LongType(), IntegerType(),
        ShortType(), ByteType(), BooleanType(),
    ]),
)
def test_coerce_column_matches_coerce_cell(values, dt):
    """The python stage's column builder returns exactly what calling
    ``coerce_cell`` on every value returns (same values and types, NaN
    equal to NaN), and raises where that raises."""
    from filefilter_spark.stages.base import coerce_cell, coerce_column

    try:
        want = [coerce_cell(v, dt) for v in values]
    except Exception as e:  # noqa: BLE001 - the builder must raise the same
        with pytest.raises(type(e)):
            coerce_column(list(values), dt)
        return
    got = coerce_column(list(values), dt)
    assert len(got) == len(want)
    assert all(_same_cell(g, w) for g, w in zip(got, want)), (got, want)


# --- driver-side array literals ---------------------------------------------

_lit_doubles = st.one_of(
    st.floats(),
    st.sampled_from([
        -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
        1.7976931348623157e308, -1.7976931348623157e308,
        float("nan"), float("inf"), float("-inf"),
    ]),
)


def _nested_doubles(depth):
    s = st.lists(_lit_doubles, min_size=1, max_size=16)
    for _ in range(depth - 1):
        s = st.lists(s, min_size=1, max_size=4)
    return s


def _flat(v):
    return [x for e in v for x in _flat(e)] if isinstance(v, list) else [v]


def _same_double(a, b):
    if math.isnan(b):
        return math.isnan(a)
    return struct.pack(">d", a) == struct.pack(">d", b)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=st.integers(min_value=1, max_value=3).flatmap(
    lambda d: st.tuples(st.just(d), _nested_doubles(d))))
def test_double_array_lit_reads_back_bit_identical(spark, case):
    """One parsed ``array<double>`` literal of a nested list (1 to 3
    levels) reads back bit-identical — ``-0.0``, subnormals, ±max,
    NaN and ±inf included — and is typed ``array<double>`` at every
    level."""
    from filefilter_spark.ops.cluster import double_array_lit

    depth, values = case
    df = spark.range(1).select(double_array_lit(values).alias("v"))
    assert df.schema["v"].dataType.simpleString() == (
        "array<" * depth + "double" + ">" * depth
    )
    got, want = _flat(df.first()["v"]), _flat(values)
    assert len(got) == len(want)
    assert all(_same_double(g, w) for g, w in zip(got, want)), (got, want)
