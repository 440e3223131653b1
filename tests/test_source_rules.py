"""Source-level rules for the package, checked without Spark.

- ``session.lineage_cut`` is the one place that cuts lineage with a
  checkpoint: no other module calls ``localCheckpoint(`` or
  ``.checkpoint(``.
- Code takes its settings as parameters: only ``session.py``, which
  maps the deployment settings (``SPARK_GRAFT_*``, ``SPARK_MASTER``,
  ``AWS_*``) into the session conf, reads the environment.
- Stage metrics come from ``df.observe`` alone: no module creates a
  Spark accumulator, which counts every run of a plan, not one.
- ``stages/base.py`` is the one place that calls ``coerce_cell(``: the
  stages build their output through ``coerce_column``, so the coercion
  rules have one path.
- No script under ``tools/`` turns the Spark UI on: per-stage numbers
  come from the event log (``perfbench/spans.py``), not from scraping
  the UI's REST API.
- Numeric array literals have one builder,
  ``ops.cluster.double_array_lit`` (one SQL parse per literal): no
  module builds an array literal one ``F.lit`` at a time, and the
  ``!r}D`` double encoding appears nowhere else. Only
  ``ops.cluster._cent_source`` reads ``CENT_LITERAL_MAX_TERMS`` to
  choose between a literal and a broadcast.
- The streaming ingest loops report their ``on_batch`` figures without
  extra Spark jobs: in ``streaming/jobs.py`` no ``.persist(`` or
  ``.count()`` sits inside an ``if`` whose test names ``on_batch`` or
  ``stats``. A figure rides ``observe()`` on a frame the batch writes.
- A CSV source is typed from a head sample: ``inferSchema`` appears
  only in ``io._csv_head_schema``, so no read scans a whole file to
  infer its types.
- The Ed-Join fuzzy join has one prefix builder and one verify: in
  ``ops/`` and ``streaming/``, ``_reduced_prefix_expr`` is called from
  one place (``ops.dedup._fuzzy_prefix``) and ``F.levenshtein`` from
  one place (``ops.dedup._verify_pairs``), so the batch operator, the
  index build and the streaming ingest cannot drift apart.
- Retrieval has one BM25 scorer and one IVF×PQ probe: in ``ops/``, the
  BM25 saturation term ``k1 + 1.0`` appears once (``ops.retrieval.
  _bm25_term``), ``_auto_refine`` has one caller and the squared-L2
  probe-cell order one site (both in ``ops.pq._ivfpq_probe``), so a
  single-query search and its batch twin cannot drift apart.
- The quality classifier featurizes in one place: in
  ``ops/classifier.py`` the one ``F.hash(`` sits in ``_bucket``, the
  one ``tokens(F.lower(`` term step in ``_term_buckets``, which both
  training (``_term_counts``) and scoring (``quality_scores``) call,
  one UDF builds ``VectorUDT`` values, and no ``extra_cols`` carrier
  rides the featurization.
- Index metadata has one sidecar format: outside ``ops/layout.py`` a
  ``stats``, ``meta`` or ``_applied`` sidecar path is only handed to
  ``_write_sidecar``, ``_read_sidecar`` or ``_IndexStore(sidecar=)``,
  no sidecar DDL string is declared, and ``_IndexStore`` takes no
  ``ddl``, ``load`` or ``encode`` codec.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "filefilter_spark"

CUT = re.compile(r"localCheckpoint\(|\.checkpoint\(")
ENV = re.compile(r"os\.environ|getenv")
ACC = re.compile(r"accumulator\(")
COERCE = re.compile(r"\bcoerce_cell\(")
BM25_SATURATION = re.compile(r"k1 \+ 1\.0")
# the squared-L2 probe order with its lowest-cell-id tiebreak
PROBE_ORDER = re.compile(
    r"sorted\(\s*range\(len\(centroids\)\),\s*key=lambda i: \("
)
# a path segment naming a sidecar dir: "/stats", "meta", "/_applied__x"
SIDECAR_PATH = re.compile(r"(^|/)(stats|meta|_applied)(/|__|$)")
SIDECAR_DDL = re.compile(r"\bapplied_keys array<|\bmeta string\b")
UI_ON = re.compile(r"""spark\.ui\.enabled["']?\s*[:,=]\s*["']?true""", re.I)
PER_ELEMENT = re.compile(r"F\.array\(\s*\*\s*\[\s*F\.(lit|array)\(")
# Short string stopword arrays and salt integers: not numeric literals.
PER_ELEMENT_OK = {
    ("ops/text.py", "sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])"),
    ("ops/text.py", "F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),"),
    ("ops/skew.py",
     "SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))"),
}


def test_lineage_cuts_and_env_reads_only_in_session():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if CUT.search(line) or ENV.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_no_accumulators_in_package():
    offenders = [
        f"{path.relative_to(PKG).as_posix()}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ACC.search(line)
    ]
    assert not offenders, "\n".join(offenders)


def test_coerce_cell_called_only_in_stage_base():
    offenders = [
        f"{path.relative_to(PKG).as_posix()}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix() != "stages/base.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if COERCE.search(line)
    ]
    assert not offenders, "\n".join(offenders)


def test_no_tool_enables_the_spark_ui():
    offenders = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted((ROOT / "tools").glob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if UI_ON.search(line)
    ]
    assert not offenders, "\n".join(offenders)


def _function_lines(path, name):
    """Line numbers of the top-level function ``name`` in ``path``."""
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return set(range(node.lineno, node.end_lineno + 1))
    raise AssertionError(f"{name} not found in {path}")


def test_array_literals_built_in_one_place():
    lit_lines = _function_lines(PKG / "ops/cluster.py", "double_array_lit")
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        text = path.read_text()
        lines = text.splitlines()
        for m in PER_ELEMENT.finditer(text):
            n = text.count("\n", 0, m.start()) + 1
            if (rel, lines[n - 1].strip()) not in PER_ELEMENT_OK:
                offenders.append(f"{rel}:{n}: {lines[n - 1].strip()}")
        offenders += [
            f"{rel}:{n}: {line.strip()}"
            for n, line in enumerate(lines, 1)
            if "!r}D" in line
            and not (rel == "ops/cluster.py" and n in lit_lines)
        ]
    assert not offenders, "\n".join(offenders)


def test_one_literal_or_broadcast_switch():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        allowed = set()
        if rel == "ops/cluster.py":
            allowed = _function_lines(path, "_cent_source")
        for node in ast.walk(tree):
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else None
            )
            if (
                name == "CENT_LITERAL_MAX_TERMS"
                and isinstance(node.ctx, ast.Load)
                and node.lineno not in allowed
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, "\n".join(offenders)


def test_ingest_figures_cost_no_jobs():
    offenders = []
    path = PKG / "streaming/jobs.py"
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.If) or not {
            n.id for n in ast.walk(node.test) if isinstance(n, ast.Name)
        } & {"on_batch", "stats"}:
            continue
        offenders += [
            f"streaming/jobs.py:{call.lineno}: .{call.func.attr}("
            for stmt in node.body + node.orelse
            for call in ast.walk(stmt)
            if isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and (call.func.attr == "persist"
                 or (call.func.attr == "count" and not call.args))
        ]
    assert not offenders, "\n".join(offenders)


def test_infer_schema_only_in_the_head_sample():
    helper = next(
        node for node in ast.parse((PKG / "io.py").read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "_csv_head_schema"
    )
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if "inferSchema" in line and not (
                rel == "io.py" and helper.lineno <= n <= helper.end_lineno
            ):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def _call_sites(subdirs, names):
    """``{name: ["rel:line", ...]}``: where the package's ``subdirs``
    call each of ``names`` (a bare name or ``module.attr``)."""
    calls = {name: [] for name in names}
    for sub in subdirs:
        for path in sorted((PKG / sub).rglob("*.py")):
            rel = path.relative_to(PKG).as_posix()
            for node in ast.walk(ast.parse(path.read_text())):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = (
                    f.id if isinstance(f, ast.Name)
                    else f"{f.value.id}.{f.attr}"
                    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                    else None
                )
                if name in calls:
                    calls[name].append(f"{rel}:{node.lineno}")
    return calls


def test_one_fuzzy_prefix_builder_and_one_verify():
    calls = _call_sites(("ops", "streaming"),
                        ("_reduced_prefix_expr", "F.levenshtein"))
    assert {k: len(v) for k, v in calls.items()} == {
        "_reduced_prefix_expr": 1, "F.levenshtein": 1}, calls


def test_one_bm25_scorer_and_one_ivfpq_probe():
    found = {"saturation": [], "probe order": []}
    for path in sorted((PKG / "ops").rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        text = path.read_text()
        for key, pattern in (("saturation", BM25_SATURATION),
                             ("probe order", PROBE_ORDER)):
            for m in pattern.finditer(text):
                n = text.count("\n", 0, m.start()) + 1
                found[key].append(f"{rel}:{n}")
    found.update(_call_sites(("ops",), ("_auto_refine",)))
    assert {k: len(v) for k, v in found.items()} == {
        "saturation": 1, "probe order": 1, "_auto_refine": 1}, found
    assert found["saturation"][0].startswith("ops/retrieval.py:"), found


def test_one_quality_featurization():
    path = PKG / "ops/classifier.py"
    text = path.read_text()

    def lines_of(pattern):
        return [text.count("\n", 0, m.start()) + 1
                for m in re.finditer(pattern, text)]

    hashes, term_steps = lines_of(r"F\.hash\("), lines_of(r"tokens\(F\.lower\(")
    assert len(hashes) == 1 and hashes[0] in _function_lines(path, "_bucket"), hashes
    assert len(term_steps) == 1, term_steps
    assert term_steps[0] in _function_lines(path, "_term_buckets"), term_steps
    callers = sorted(
        fn.name for fn in ast.parse(text).body
        if isinstance(fn, ast.FunctionDef)
        and any(isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
                and c.func.id == "_term_buckets" for c in ast.walk(fn))
    )
    assert callers == ["_term_counts", "quality_scores"], callers
    assert len(lines_of(r"VectorUDT\(\)")) == 1
    assert "extra_cols" not in text


def _call_name(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def test_one_sidecar_writer_and_reader():
    allowed = {"_write_sidecar", "_read_sidecar"}
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "ops/layout.py":
            continue
        tree = ast.parse(path.read_text())
        docs = {
            id(node.value) for node in ast.walk(tree)
            if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
        }
        ok = set()  # string nodes handed to the sidecar functions
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = _call_name(call)
            args = list(call.args) if name in allowed else []
            args += [kw.value for kw in call.keywords
                     if name == "_IndexStore" and kw.arg == "sidecar"]
            ok.update(id(n) for a in args for n in ast.walk(a))
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            if id(node) in docs:
                continue
            if SIDECAR_DDL.search(node.value):
                offenders.append(f"{rel}:{node.lineno}: DDL {node.value!r}")
            elif SIDECAR_PATH.search(node.value) and id(node) not in ok:
                offenders.append(f"{rel}:{node.lineno}: {node.value!r}")
    assert not offenders, "\n".join(offenders)
    init = next(
        fn for cls in ast.parse((PKG / "streaming/jobs.py").read_text()).body
        if isinstance(cls, ast.ClassDef) and cls.name == "_IndexStore"
        for fn in cls.body
        if isinstance(fn, ast.FunctionDef) and fn.name == "__init__"
    )
    params = {a.arg for a in init.args.args + init.args.kwonlyargs}
    assert not params & {"ddl", "load", "encode"}, params
