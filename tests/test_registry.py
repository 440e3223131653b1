"""Registry contract tests — make a CORRECTNESS_r01-style regression
(an entry that doesn't even import/construct) impossible to ship.

``pytest tests/`` alone must prove: the registry imports, every
builder CONSTRUCTS a DataFrame (analysis-time errors surface without
executing anything), oracles exist where promised, and the
driver-window ordering that CORRECTNESS rows depend on holds."""

import pytest


@pytest.fixture(scope="module")
def entry():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    return E


def test_registry_all_builders_construct(entry, spark, sf_dir):
    """Every queries() entry must build its DataFrame. Catches
    ImportError, attribute drift, and analysis-time SQL errors across
    the whole registry in one test. SLOW TIER (r17): index-lifecycle
    and streaming entries execute real builds at construction, so the
    full sweep runs minutes; the fast tier keeps the driver-window
    gate below (:func:`test_driver_window_builders_construct`)."""
    failures = {}
    for name, builder in entry.queries().items():
        try:
            df = builder(spark, sf_dir)
            df.schema  # force analysis
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures[name] = f"{type(e).__name__}: {e}"
    assert not failures, f"builders failed to construct: {failures}"


def test_driver_window_builders_construct(entry, spark, sf_dir, monkeypatch):
    """Fast-tier construct gate: the first 50 registrations (the
    CORRECTNESS window) must construct in every default test run, not
    only in the FILEFILTER_FULL_TESTS sweep. The pair kernel is swapped
    for its in-place builder, so the pair operators construct without
    running a job."""
    from filefilter_spark.ops import dedup

    monkeypatch.setattr(
        dedup,
        "_chunked_list_pairs",
        lambda grouped, list_col="ds", scope=None:
            dedup._inplace_list_pairs(grouped, list_col),
    )
    failures = {}
    for name, builder in list(entry.queries().items())[:50]:
        try:
            df = builder(spark, sf_dir)
            df.schema  # force analysis
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures[name] = f"{type(e).__name__}: {e}"
    assert not failures, f"builders failed to construct: {failures}"


def test_oracles_cover_queries(entry):
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs), "oracle for unregistered query"
    # weaker rows-only checks are allowed ONLY for the probabilistic
    # LSH/ANN paths, whose seeded hash families no SQL oracle can
    # replicate — each is instead recall-tested against its exact
    # baseline in tests/test_ops.py. Anything else must carry an oracle.
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {
        "OP-D2-minhash", "OP-D2-simhash", "OP-D2-winnow",
        "OP-D3-lsh", "OP-D3-ivf", "OP-D3-pairs-lsh",
        "OP-D3-ivfpq",  # composed ANN → recall oracle vs exact L2 (r11)
        # its persisted-layout lifecycle twin (annindex -> search
        # mode: ann through the pipeline path), same recall oracle (r14)
        "OP-A8-annindex",
        # zero-corpus-scan hybrid: exact indexed BM25 fused with the
        # ANN tower -> recall oracle vs the exact fusion (r14)
        "OP-D3-hybrid-indexed",
        # stream-grown ANN layout (frozen day-1 fit + day-2 ingest) ->
        # recall oracle vs the full-corpus exact L2 (r14)
        "OP-D5-annindex",
        "OP-D3-semdedup",  # KMeans-cell recall oracle (r5)
        "OP-D2-incremental",  # batch-touching minhash recall oracle (r5)
        # L-BFGS scores aren't bit-stable across partitionings, so the
        # entry carries a recall oracle on a separable construct
        # (RecallSpec; exact precision+recall pinned in test_ops) (r8)
        "OP-D4-qualityclf",
        # streaming MinHash-LSH survivor store → recall oracle vs the
        # exact-pair-graph survivors (structurally 1.0 on a single
        # batch; greedy multi-batch pinned in test_ops) (r13)
        "OP-D5-neardup",
        # its embedding mirror: streaming SemDeDup survivor store →
        # recall oracle vs the exact cosine-pair-graph survivors (r13)
        "OP-D5-semdedup",
        # batch hybrid fusion contains the ANN tier → recall oracle
        # vs the exact per-query fusion, keys (q_id, doc_id) (r15)
        "OP-D3-hybrid-batch",
        # zero-code SemDeDup stage → recall oracle vs the exact
        # cosine-pair-graph survivors (structurally 1.0: precision-
        # exact kills make the output a superset; over-retention is
        # the honest cost of boundary-pair misses) (r16)
        "OP-A8-semdedup",
    }, f"entries silently missing oracles: {sorted(rows_only)}"


def test_driver_window_covers_core_surface(entry):
    """The driver verifies the FIRST 50 registrations; the §2
    relational core + C tier + every extension flagship must sit inside
    that window (VERDICT r2 #1)."""
    first50 = list(entry.queries())[:50]
    required = (
        [f"OP-B{i}" for i in range(1, 37)]
        + ["OP-C1", "OP-C2"]
        + ["OP-D1", "OP-D2", "OP-D3", "OP-D4", "OP-D5", "OP-D6-multimodal"]
    )
    missing = [n for n in required if n not in first50]
    assert not missing, f"outside the driver's 50-entry window: {missing}"


def test_oracle_full_artifact_covers_registry(entry):
    """The newest committed ORACLE_FULL_r*.json must cover the
    registry at HEAD exactly — it trailed HEAD by 4 entries for two
    rounds (VERDICT r10 #2); this makes that impossible to ship."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(
        glob.glob(os.path.join(repo, "ORACLE_FULL_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    assert arts, "no ORACLE_FULL artifact committed"
    with open(arts[-1]) as f:
        data = json.load(f)
    names = {e["name"] for e in data["entries"]}
    qs = set(entry.queries())
    assert names == qs, (
        f"{os.path.basename(arts[-1])} trails HEAD: "
        f"missing {sorted(qs - names)}; stale {sorted(names - qs)}"
    )
    assert data["n_fail"] == 0 and data["n_err"] == 0


def test_bench_compact_line_is_tail_safe():
    """r13 (VERDICT r12 #4): the bench's FINAL stdout line must stay
    parseable inside a bounded tail capture — the driver's 2,000-char
    window held only fragments of the full JSON line from r9-r12
    ("parsed": null). r17 (VERDICT r16 #1): the per-query dict now
    rides the compact line (the r16 driver's PERF per-query/scaling
    blocks came back empty without it); pin the line under 1,900
    chars WITH the dict in the worst realistic shape (every headline
    query escalated AND missing, loaded box), and pin the overflow
    fallback that drops the dict rather than bursting the window."""
    import json

    import bench

    worst = {
        "metric": "total_wall_sec",
        "value": 12345.678,
        "unit": "sec",
        "queries": {n: 99.999 for n in bench.HEADLINE},
        "sf": 0.1,
        "estimator": "min_of_2_warm_plus_noise_rep",
        "load1_at_launch": 31.9,
        "load_note": "x" * 500,
        "escalated_queries": list(bench.HEADLINE),
        "added_queries": [n for n in bench.HEADLINE if n.count("-") > 1],
        "missing_queries": list(bench.HEADLINE),
    }
    line = json.dumps(bench.compact_line(worst))
    assert len(line) <= 1900, len(line)
    # round-trips, and carries the scalars AND per-query seconds the
    # driver's PERF comparison needs
    back = json.loads(line)
    assert back["value"] == 12345.678 and back["sf"] == 0.1
    assert back["missing_queries"] == list(bench.HEADLINE)
    assert back["queries"] == {n: 99.999 for n in bench.HEADLINE}

    # Overflow fallback: absurdly long names push the dict out, the
    # line still lands under the window and stays parseable.
    huge = dict(worst, queries={("Q" * 200) + str(i): 9.9 for i in range(29)})
    line2 = json.dumps(bench.compact_line(huge))
    assert len(line2) <= 1900, len(line2)
    back2 = json.loads(line2)
    assert "queries" not in back2
    assert back2["value"] == 12345.678
