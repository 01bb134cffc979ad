"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. The process starts one Spark session
at local[nproc] with the program's defaults, makes the seeded inputs,
runs one untimed warm-up op, then runs ops one at a time until
`--seconds` of op time have passed (at least one op). Every op's output
is checked outside the timed region.

--trace 0 prints the end-to-end metrics. --trace 1 runs the same
untraced ops, then restarts the Spark context with an event log,
installs the span wrappers, runs the ops again and prints the
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("kg_build", "graph_analytics")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def make_workload(name: str, work: str, seed: int):
    if name == "kg_build":
        from perfbench.kg import KgBuild

        return KgBuild(work, seed)
    from perfbench.graph import GraphAnalytics

    return GraphAnalytics(seed, ROOT)


def measure(spark, wl, seconds: float, rss, tracer=None) -> list[dict]:
    """Closed loop, one op at a time, until `seconds` of op time and at
    least the workload's `min_ops` ops."""
    recs, spent = [], 0.0
    while len(recs) < wl.min_ops or spent < seconds:
        op_id = f"{'t' if tracer else 'u'}{len(recs)}"
        t0 = time.perf_counter()
        rss.armed = True
        try:
            rec = wl.op(spark, op_id, tracer)
        except Exception as exc:  # a raising op is a failed op
            traceback.print_exc()
            rec = {"id": op_id, "wall": time.perf_counter() - t0, "problems": [repr(exc)]}
        finally:
            rss.armed = False
        spent += rec["wall"]
        if "problems" not in rec:
            try:
                rec["problems"] = wl.check(spark, rec)
            except Exception as exc:
                traceback.print_exc()
                rec["problems"] = [f"check raised {exc!r}"]
        print(f"perfbench: op {op_id} {rec['wall']:.3f}s", file=sys.stderr)
        for p in rec["problems"]:
            print(f"perfbench: op {op_id} failed: {p}", file=sys.stderr)
        recs.append(rec)
    return recs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.harness import median

    if not os.path.isdir(os.path.join(ROOT, "datacapsule_spark")):
        fail(f"no datacapsule_spark package under {ROOT}; run from a checkout of the repo")
    if not os.path.isfile(os.path.join(ROOT, "tools", "validate_queries.py")):
        fail("tools/validate_queries.py (the oracle value hash) is missing")
    for var in harness.FORBIDDEN_ENV:
        if os.environ.get(var):
            fail(f"{var} is set; it alters the program under test")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    traces = os.path.join(ROOT, ".perfbench_work", "traces")
    harness.prepare_env(ROOT, work)
    rss = harness.RssSampler()
    spark = None
    try:
        spark = harness.start_session(f"perfbench-{args.workload}")
        wl = make_workload(args.workload, work, args.seed)
        wl.generate(spark)
        wl.load(spark)
        wl.warmup(spark)
        setup_s = time.perf_counter() - T_START
        print(f"perfbench: setup {setup_s:.3f}s", file=sys.stderr)

        untraced = measure(spark, wl, args.seconds, rss)
        ok = [r for r in untraced if not r["problems"]] or untraced
        recs = untraced
        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (median(r["wall"] for r in ok), "s"),
                "leaf_geomean_s": (wl.leaf_geomean_s(ok), "s"),
            }
        else:
            metrics, traced, spark = traced_metrics(args, wl, spark, untraced, rss, work, traces)
            recs = untraced + traced
    finally:
        rss.close()
        if spark is not None:
            harness.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in recs if r["problems"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def traced_metrics(args, wl, spark, untraced, rss, work, traces):
    """Re-run the ops in a fresh Spark context that writes an event log,
    with every layer's entry points wrapped in spans; returns the
    per-layer metrics, the traced op records and the (stopped) traced
    session."""
    from perfbench import eventlog, harness
    from perfbench.harness import median
    from perfbench.tracing import Tracer

    peak_rss = rss.peak  # of the untraced ops
    spark.stop()
    log_dir = os.path.join(work, "eventlog")
    spark = harness.start_session(f"perfbench-{args.workload}-traced", event_log_dir=log_dir)
    try:
        wl.load(spark)
        wl.rewarm(spark)
        tracer = Tracer(spark.sparkContext)
        tracer.install()
        try:
            traced = measure(spark, wl, args.seconds, rss, tracer)
        finally:
            tracer.uninstall()
    finally:
        spark.stop()
    (log,) = os.listdir(log_dir)
    groups = eventlog.parse_file(os.path.join(log_dir, log))
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}.spans.jsonl"))

    ok_t = [r for r in traced if not r["problems"]] or traced
    ok_u = [r for r in untraced if not r["problems"]] or untraced
    values = dict.fromkeys(layer_names(), 0.0)
    values.update(wl.layers(ok_t, ok_u, tracer.spans, groups))
    # per op: every job group of the op (`<op>|...`), median over ops
    per_op = [eventlog.total(groups, [k for k in groups if k and k.split("|")[0] == r["id"]])
              for r in ok_t]
    values["peak_rss_mb"] = peak_rss / 2**20
    values["spark.gc_s"] = median(g.gc_ms for g in per_op) / 1000.0
    values["spark.spill_bytes"] = median(g.disk_spill_bytes for g in per_op)
    values["trace.overhead_ratio"] = median(r["wall"] for r in ok_t) / median(r["wall"] for r in ok_u)
    recs = untraced + traced
    values["error_rate"] = sum(1 for r in recs if r["problems"]) / len(recs)
    metrics = {k: (float(v), UNITS.get(k.rsplit(".", 1)[-1], "count")) for k, v in values.items()}
    return metrics, traced, spark


def layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in BENCHMARK.json order."""
    from perfbench import graph, kg

    return kg.layer_names() + graph.layer_names() + [
        "peak_rss_mb", "spark.gc_s", "spark.spill_bytes", "trace.overhead_ratio", "error_rate"]


UNITS = {
    "wall_s": "s", "python_worker_s": "s", "uncovered_s": "s", "gc_s": "s",
    "triples_per_s": "1/s", "tail_overlap": "ratio", "dedup_ratio": "ratio",
    "task_skew": "ratio", "overhead_ratio": "ratio", "error_rate": "ratio",
    "bytes_per_input_byte": "ratio", "bytes_written": "bytes", "shuffle_bytes": "bytes",
    "python_bytes_sent": "bytes", "spill_bytes": "bytes", "peak_rss_mb": "MB",
}


if __name__ == "__main__":
    main()
