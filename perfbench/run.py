"""Benchmark of the YAML pipeline runner and the operator registry.

    python3 perfbench/run.py --workload sql_csv --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run is one fresh driver process at
``local[4]`` with one closed-loop client: it writes the workload's
seeded inputs, starts the Spark session (timed as ``setup_s``), runs a
first pass (``cold_run_s``), warms up for ``WARMUP_S``, then measures
passes until ``--seconds`` have passed. Every pass's output is checked. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the environment stamp, the
input digest and the sample counts. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
MASTER_CORES = 4
DRIVER_MEMORY = "1g"
WARMUP_S = 5.0
# A run must end well inside its 180 s limit even if a pass stalls.
RUN_DEADLINE_S = 150.0
STAGE_TYPES = ("sql", "python", "textstats", "gopherrep", "dedupbest", "temperature",
               "split", "bpe", "expect", "epochs")
LAYERS = ("bench", "config", "io", "pipeline", "stages", "queries", "ops")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "filefilter_spark" / "__init__.py").is_file():
        print(f"perfbench: {root} holds no filefilter_spark package; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(root)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    load_start = os.getloadavg()[0]
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = HERE / "out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    try:
        wl = WORKLOADS[args.workload](root, work, args.seed)
        wl.make_inputs()
        wl.prepare()
        import inputs

        input_info = {"rows": wl.input_rows, "bytes": sum(p.stat().st_size for p in wl.files),
                      "sha256": inputs.digest(wl.files)}
        result = measure(wl, args, root, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": input_info, **result.pop("info"),
        "env": env_stamp(root, load_start),
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"{tag}.json").write_text(json.dumps({**info, **result}, indent=1) + "\n")
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
                                         " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def measure(wl, args, root: Path, work: Path, t_start: float) -> dict:
    # The Python workers import the program and run with this interpreter;
    # every temp file stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(MASTER_CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    from pyspark import SparkContext

    import spans
    from filefilter_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", **_spark_conf(work, bool(args.trace)))
    setup_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    traced = spans.Tracer(sc if args.trace else None)
    plain = spans.Tracer(None)

    passes: list[dict] = []

    def one_pass(tr) -> dict:
        tr.pass_id = len(passes)
        rec = {"id": tr.pass_id, "traced": tr.sc is not None, "ok": False}
        cpu0 = spans.cpu_split()
        t = time.perf_counter()
        try:
            with tr.span("pass", cpu=True):
                obs = wl.run_pass(spark, tr)
            rec["wall_s"] = time.perf_counter() - t
            cpu1 = spans.cpu_split()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
            rec["ok"] = wl.check(obs)
            if not rec["ok"]:
                rec["error"] = f"output check failed: {json.dumps(obs)[:400]}"
        except Exception:
            rec["error"] = traceback.format_exc(limit=4)
        if "error" in rec:
            print(f"perfbench: pass {rec['id']}: {rec['error']}", file=sys.stderr)
        passes.append(rec)
        return rec

    try:
        one_pass(traced)  # cold: the first pass in a fresh session
        # Unmeasured warm-up: the JIT is still compiling the hot paths
        # during the first few passes after the cold one.
        warmup_end = time.perf_counter() + WARMUP_S
        while time.perf_counter() < warmup_end:
            one_pass(traced)
        n_warmup = len(passes)
        window_end = time.perf_counter() + args.seconds
        # With tracing on, measured passes run traced and untraced in
        # ABBA order (which cancels a linear warm-up trend), so the run
        # measures its own tracing overhead. At least one measured pass;
        # traced runs need one of each kind.
        while (len(passes) < n_warmup + 1 + args.trace or time.perf_counter() < window_end) \
                and time.perf_counter() - t_start < RUN_DEADLINE_S:
            abba = (len(passes) - n_warmup) % 4 in (1, 2)
            one_pass(plain if args.trace and abba else traced)
        rss_mb = spans.peak_rss_mb()
    finally:
        workers = stop_spark(spark, SparkContext)

    for p in passes[:n_warmup]:
        p["warmup"] = True
    warm = [p for p in passes[n_warmup:] if p["ok"]]
    info = {"passes": len(passes), "warm_samples": len(warm), "killed_workers": workers,
            "peak_rss_mb": rss_mb,
            "pass_walls_s": [round(p.get("wall_s", float("nan")), 4) for p in passes],
            "pass_cpu_s": [{k: round(v, 2) for k, v in p.get("cpu", {}).items()} for p in passes],
            "errors": [p["error"] for p in passes if "error" in p][:3]}
    failed = sum(not p["ok"] for p in passes)
    if not warm or not passes[0]["ok"]:
        return {"info": info, "correct": False, "attempted": len(passes), "failed": failed,
                "metrics": {}}

    if args.trace:
        log = spans.EventLog(next((work / "eventlog").iterdir()))
        traced.attach_spark(log)
        traced.write(HERE / "out" / f"{wl.name}-seed{args.seed}-spans.jsonl")
        figures = layer_metrics(traced, log, passes, setup_s, info)
    else:
        figures = end_to_end(wl, passes, warm, setup_s, rss_mb, info)
    # Report exactly the metrics BENCHMARK.json declares for this mode;
    # a layer a workload does not reach reads 0.
    declared = json.loads((root / "BENCHMARK.json").read_text())
    metrics = {m["name"]: {"value": figures.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared["per_layer" if args.trace else "end_to_end"]}
    return {"info": info, "correct": failed == 0, "attempted": len(passes), "failed": failed,
            "metrics": metrics}


def stop_spark(spark, SparkContext) -> list[int]:
    """Stop the session, then the JVM, and wait for the Python workers
    to exit (killing any that outlive a grace period); return the pids
    that had to be killed."""
    import spans

    workers = [p for p in spans.all_descendants() if p not in spans.java_pids()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    def alive(pids):
        return [p for p in pids if Path(f"/proc/{p}").exists()]

    deadline = time.time() + 20
    while alive(workers) and time.time() < deadline:
        time.sleep(0.1)
    killed = alive(workers)
    for pid in killed:
        os.kill(pid, signal.SIGKILL)
    while alive(killed):
        time.sleep(0.1)
    return killed


def end_to_end(wl, passes, warm, setup_s, rss_mb, info) -> dict:
    times = sorted(p["wall_s"] for p in warm)
    run_s = statistics.median(times)
    # The highest percentile with at least ten samples beyond it.
    k = len(times) - 10
    info["run_s_tail"] = {"samples": len(times),
                          "percentile": round(100 * k / len(times), 1) if k > 0 else None,
                          "value": times[k - 1] if k > 0 else None}
    return {
        "setup_s": setup_s,
        "cold_run_s": passes[0]["wall_s"],
        "run_s": run_s,
        "rows_per_s": wl.input_rows / run_s,
        # JIT compilation is warm-up work whose amount varies run to
        # run; it is reported per layer as proc.jit_cpu_s instead.
        "cpu_s": statistics.median(sum(v for k, v in p["cpu"].items() if k != "jit")
                                   for p in warm),
        "peak_rss_mb": sum(rss_mb.values()),
    }


def _layer_of(name: str) -> str:
    if name.startswith("stage."):
        return "stages"
    if name == "pass" or name.startswith("op."):
        return "bench"
    return name.split(".")[0]


def _dur(spans_: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans_)


def _cnt(spans_: list[dict], key: str) -> float:
    return sum(s["counts"][key] for s in spans_)


def pass_figures(tr, root: dict) -> dict:
    """Per-layer figures of one traced pass, from its span subtree."""
    import spans

    sub = tr.subtree(root["id"])

    def named(n):
        return [s for s in sub if s["name"] == n]

    r = {
        "config.load_s": _dur(named("config.load")),
        "io.read_s": _dur(named("io.read")),
        "io.read_jobs": _cnt(named("io.read"), "jobs"),
        "pipeline.run_s": _dur(named("pipeline.run")),
        "pipeline.run_jobs": sum(_cnt(tr.subtree(s["id"]), "jobs") for s in named("pipeline.run")),
        "io.sink_s": _dur(named("io.sink")),
        "io.sink_final_tasks": _cnt(named("io.sink"), "final_stage_tasks"),
    }
    for t in STAGE_TYPES:
        r[f"stage.{t}.apply_s"] = _dur(named(f"stage.{t}"))
        r[f"stage.{t}.jobs"] = _cnt(named(f"stage.{t}"), "jobs")
    for k in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        r[f"spark.{k}"] = _cnt(sub, k)
    # the hottest stage: the one with the most executor time
    hot = max((st for s in sub for st in s["counts"]["stage_tasks"]), default=(0.0, []))[1]
    r["spark.hot_stage_max_task_s"] = max(hot, default=0.0)
    r["spark.hot_stage_median_task_s"] = statistics.median(hot) if hot else 0.0
    wall = root["end"] - root["start"]
    job_spans = [(max(a, root["start"]), min(b, root["end"]))
                 for s in sub for a, b in s["counts"]["job_spans"]]
    r["spark.driver_s"] = wall - spans.union_length(job_spans)
    c = root["counts"]
    r["proc.jvm_cpu_s"] = c["jvm_cpu_s"]
    r["proc.pyworker_cpu_s"] = c["pyworker_cpu_s"]
    r["proc.jit_cpu_s"] = c["jit_cpu_s"]
    r["proc.cpu_util"] = (c["driver_cpu_s"] + c["jvm_cpu_s"] + c["jit_cpu_s"]
                          + c["pyworker_cpu_s"]) / (wall * MASTER_CORES)
    for s in sub:
        if s["name"].startswith("op."):
            r[f"{s['name']}.s"] = r.get(f"{s['name']}.s", 0.0) + s["end"] - s["start"]
    for layer in LAYERS:
        r[f"self.{layer}_s"] = sum(tr.self_time(s) for s in sub if _layer_of(s["name"]) == layer)
    r["trace.run_s"] = wall
    return r


def layer_metrics(tr, log, passes, setup_s, info) -> dict:
    """Medians over the warm traced passes of each layer's figures."""
    import spans

    rows, unattributed = [], 0
    for root in tr.spans:
        if root["name"] != "pass" or "warmup" in passes[root["pass"]] \
                or not passes[root["pass"]]["ok"]:
            continue
        rows.append(pass_figures(tr, root))
        # every job launched during the pass must carry one of its spans' groups
        groups = {f"{spans.GROUP_PREFIX}{s['id']}" for s in tr.subtree(root["id"])}
        unattributed += sum(j["group"] not in groups
                            for j in log.jobs_between(root["start"], root["end"]))
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["session.start_s"] = setup_s
    plain = [p["wall_s"] for p in passes if "warmup" not in p and p["ok"] and not p["traced"]]
    out["trace.overhead_s"] = out["trace.run_s"] - statistics.median(plain)
    info["unattributed_jobs"] = unattributed
    info["layers"] = out
    return out


def env_stamp(root: Path, load_start: float) -> dict:
    import pyspark
    from inputs import digest as inputs_digest

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(), "master": f"local[{MASTER_CORES}]",
        "spark": pyspark.__version__, "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(),
        "load1_start": load_start, "load1_end": os.getloadavg()[0],
        "git_commit": commit,
        "source_sha256": inputs_digest(sorted((root / "filefilter_spark").rglob("*.py"))),
    }


if __name__ == "__main__":
    sys.exit(main())
