"""Archive-workload benchmark: one run of one workload.

    python3 perfbench/run.py --workload archive_batch --seed 1 --seconds 10 --trace 0

Prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(see README.md).  Everything the run writes lives under
``.perfbench_tmp/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# driver heap for local[nproc]; kept well below the RAM of a small host
DRIVER_MEM = "2g"


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _host(ticks_before: list[int]) -> dict:
    """1-min loadavg, and the host's CPU busy and steal shares over the
    run, so a noisy window can be told apart from a code change."""
    d = [b - a for a, b in zip(ticks_before, _cpu_ticks())]
    total = sum(d) or 1
    return {"loadavg": os.getloadavg()[0],
            "busy_pct": 100.0 * (total - d[3] - d[4]) / total,
            "steal_pct": 100.0 * d[7] / total}


def _environment(tmp: str) -> dict[str, str]:
    """Process environment and Spark config that keep every file the run
    writes under ``tmp`` and let Python workers import the engine."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    java_opts = (f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} "
                 f"-Dderby.system.home={os.path.join(tmp, 'tmp')}")
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session and wait for its JVM: closing the gateway's
    stdin is what makes the JVM exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced run's spans here")
    args = ap.parse_args(argv)

    t_setup = time.time()
    if not os.path.isdir(os.path.join(ROOT, "timesearch_spark")):
        print("timesearch_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tmp_base = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_base, f"{args.workload}-{os.getpid()}")
    conf = _environment(tmp)
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": os.path.join(tmp, "eventlog")})
    ticks = _cpu_ticks()
    spark = None
    try:
        from timesearch_spark.session import get_spark

        t0 = time.monotonic()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.monotonic() - t0
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        ctx = workloads.Ctx(spark, tmp, args.seed, args.seconds, tracer, t_setup)
        workloads.WORKLOADS[args.workload](ctx)
        archive_bytes = workloads.dir_bytes(ctx.archive_path) - workloads.dir_bytes(
            os.path.join(ctx.archive_path, "_checkpoint"))
        _stop(spark)
        spark = None
        if args.trace:
            metrics = layer_metrics(ctx, tmp, session_s, args.spans_out)
        else:
            metrics = end_to_end(ctx, archive_bytes)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_base)
        except OSError:
            pass

    failed = sum(1 for op in ctx.ops if not op["ok"])
    print(json.dumps({"run": {"workload": args.workload, "seed": args.seed,
                              "trace": args.trace, "timed_s": ctx.timed[1] - ctx.timed[0],
                              "ops": [[op["kind"], round(op["s"], 3)] for op in ctx.ops],
                              **ctx.info,
                              "host": _host(ticks)}}),
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(ctx.ops),
                      "failed": failed, "metrics": metrics}))
    return 0


def _durations(ctx, kind: str) -> list[float]:
    return [op["s"] for op in ctx.ops if op["kind"] == kind]


def end_to_end(ctx, archive_bytes: int) -> dict:
    return {
        "setup_s": {"value": ctx.setup_s, "unit": "s"},
        "write_s_p50": {"value": statistics.median(_durations(ctx, "write")), "unit": "s"},
        "read_s_p50": {"value": statistics.median(_durations(ctx, "read")), "unit": "s"},
        "store_bytes_per_input_byte": {"value": archive_bytes / ctx.input_bytes,
                                       "unit": "ratio"},
    }


def layer_metrics(ctx, tmp: str, session_s: float, spans_out: str | None) -> dict:
    """Per-layer figures of the timed phase: totals over its spans, each
    ratio next to its base (``trace.write_ops``/``trace.read_ops`` count
    the ops the totals cover)."""
    import spans

    stats = spans.span_stats(ctx.tracer.spans,
                             spans.parse_event_log(os.path.join(tmp, "eventlog")))
    if spans_out:
        with open(spans_out, "w") as f:
            json.dump(stats, f)
    layers = spans.layer_totals(stats)
    x = ctx.extra

    def lay(layer: str, key: str) -> float:
        return layers.get(layer, {}).get(key, 0)

    def named(name: str) -> list[dict]:
        return [s for s in stats if s["name"] == name]

    def ratio(a: str, b: str) -> float:
        return x.get(a, 0) / x[b] if x.get(b) else 0.0

    merges = named("store.merge")
    construct, action = named("pipeline.curate_corpus"), named("pipeline.action")
    subtree = _subtree(stats)
    m = {
        "session.start_s": (session_s, "s"),
        "sources.driver_s": (lay("sources", "driver_s"), "s"),
        "sources.jobs": (lay("sources", "jobs"), "count"),
        "sources.py4j_calls": (lay("sources", "py4j"), "count"),
        "api.driver_s": (lay("api", "driver_s"), "s"),
        "api.jobs": (lay("api", "jobs"), "count"),
        "store.merges": (len(merges), "count"),
        "store.merge_s": (sum(s["dur_s"] for s in merges), "s"),
        "store.merge_jobs": (sum(s["jobs"] for s in merges), "count"),
        "store.merge_shuffle_bytes": (sum(s["shuffle_bytes"] for s in merges), "bytes"),
        "store.buckets_rewritten": (x.get("store.buckets_rewritten", 0), "count"),
        "store.buckets_rewritten_per_merge": (
            x.get("store.buckets_rewritten", 0) / len(merges) if merges else 0.0, "ratio"),
        "store.rows_merged": (x.get("store.rows_merged", 0), "count"),
        "store.rows_rewritten": (x.get("store.rows_rewritten", 0), "count"),
        "store.rows_rewritten_per_row_merged": (
            ratio("store.rows_rewritten", "store.rows_merged"), "ratio"),
        "store.input_bytes": (x.get("store.input_bytes", 0), "bytes"),
        "store.bytes_written": (x.get("store.bytes_written", 0), "bytes"),
        "store.write_amp": (ratio("store.bytes_written", "store.input_bytes"), "ratio"),
        "store.versions_committed": (x.get("store.versions_committed", 0), "count"),
        "store.edit_rows": (x.get("store.edit_rows", 0), "count"),
        "upsert.driver_s": (lay("upsert", "driver_s"), "s"),
        "upsert.py4j_calls": (lay("upsert", "py4j"), "count"),
        "exports.self_s": (lay("exports", "self_s"), "s"),
        "exports.jobs": (lay("exports", "jobs"), "count"),
        "exports.task_s": (lay("exports", "task_s"), "s"),
        "exports.shuffle_bytes": (lay("exports", "shuffle_bytes"), "bytes"),
        "exports.files_written": (sum(s["counters"].get("files", 0) for s in stats),
                                  "count"),
        "trees.driver_s": (lay("trees", "driver_s"), "s"),
        "trees.py4j_calls": (lay("trees", "py4j"), "count"),
        "breakdown.driver_s": (lay("breakdown", "driver_s"), "s"),
        "fs.calls": (lay("fs", "calls"), "count"),
        "fs.self_s": (lay("fs", "self_s"), "s"),
        "livestream.batches": (x.get("livestream.batches", 0), "count"),
        "livestream.trigger_s": (x.get("livestream.trigger_s", 0.0), "s"),
        "livestream.batch_rows": (x.get("livestream.batch_rows", 0), "count"),
        "livestream.queue_s": (x.get("livestream.queue_s", 0.0), "s"),
        "livestream.generator_late_s": (x.get("livestream.generator_late_s", 0.0), "s"),
        "pipeline.driver_s": (sum(subtree(s, "driver_s") for s in construct), "s"),
        "pipeline.construct_jobs": (sum(subtree(s, "jobs") for s in construct), "count"),
        "pipeline.py4j_calls": (sum(subtree(s, "py4j") for s in construct), "count"),
        "pipeline.action_s": (sum(s["dur_s"] for s in action), "s"),
        "pipeline.action_shuffle_bytes": (sum(s["shuffle_bytes"] for s in action), "bytes"),
        "pipeline.action_task_s": (sum(s["task_s"] for s in action), "s"),
        "trace.write_ops": (len(_durations(ctx, "write")), "count"),
        "trace.read_ops": (len(_durations(ctx, "read")), "count"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _subtree(stats: list[dict]):
    """sum(span, key): ``key`` summed over a span and its descendants."""
    children: dict[str, list[dict]] = {}
    for s in stats:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def total(span: dict, key: str) -> float:
        return span[key] + sum(total(c, key) for c in children.get(span["id"], []))

    return total


if __name__ == "__main__":
    sys.exit(main())
