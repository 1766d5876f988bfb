"""Traced-run report: per-layer figures with their bases, plus the
tracing overhead.

    python3 perfbench/report.py --workload live_corpus --seed 1 [--seconds 10]

Runs ``run.py`` twice on one seed, untraced then traced, and prints the
end-to-end metrics, every per-layer metric, and the tracing overhead:
the traced run's timed phase minus the untraced run's.  The traced
run's spans go to ``--spans-out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# ratio -> the bases it divides, printed next to it
BASES = {
    "store.buckets_rewritten_per_merge": ("store.buckets_rewritten", "store.merges"),
    "store.rows_rewritten_per_row_merged": ("store.rows_rewritten", "store.rows_merged"),
    "store.write_amp": ("store.bytes_written", "store.input_bytes"),
}


def run(workload: str, seed: int, seconds: int, trace: int,
        spans_out: str | None) -> tuple[dict, dict]:
    """(result, run info) of one run.py invocation."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if spans_out:
        cmd += ["--spans-out", spans_out]
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True,
                          timeout=600)
    info = {}
    for line in proc.stderr.splitlines():
        if line.startswith('{"run"'):
            info = json.loads(line)["run"]
    return json.loads(proc.stdout.strip().splitlines()[-1]), info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--spans-out")
    args = ap.parse_args(argv)

    plain, plain_info = run(args.workload, args.seed, args.seconds, 0, None)
    traced, traced_info = run(args.workload, args.seed, args.seconds, 1, args.spans_out)
    print(f"{args.workload} seed {args.seed}: correct={plain['correct'] and traced['correct']}"
          f" attempted={plain['attempted']} failed={plain['failed']}")
    print("end to end (untraced):")
    for name, m in plain["metrics"].items():
        print(f"  {name:36s} {m['value']:12.4f} {m['unit']}")
    for changed, threads in plain_info.get("rendered", []):
        print(f"  (a read rendered {changed} of {threads} threads)")
    if "rungs" in plain_info:
        print(f"  (curate rungs input/gated/exact/neardup: {plain_info['rungs']})")
    print("per layer (traced; totals over the timed phase):")
    lm = traced["metrics"]
    for name, m in lm.items():
        base = ""
        if name in BASES:
            a, b = BASES[name]
            base = f"  = {lm[a]['value']:.0f} / {lm[b]['value']:.0f}"
        print(f"  {name:36s} {m['value']:12.4f} {m['unit']}{base}")
    overhead = traced_info["timed_s"] - plain_info["timed_s"]
    print(f"tracing overhead: {overhead:+.3f} s on a {plain_info['timed_s']:.3f} s "
          f"untraced timed phase")
    return 0


if __name__ == "__main__":
    sys.exit(main())
