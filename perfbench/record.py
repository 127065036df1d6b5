#!/usr/bin/env python3
"""Record untraced and traced runs of every workload, alternating.

Usage, from the root of the checkout:

    python3 perfbench/record.py --seed <n> --pairs <k> --out perfbench/records/<name>.json

For each workload, makes `k` pairs of one untraced and one traced run of
the same seed, the pair order alternating, and stores every run's detail
and result lines. The tracing overhead is the median over pairs of the
traced run's trace.op_mean_ms over the untraced run's op_mean_ms, minus one.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("upload_upsert", "page_browse", "gate_mix")


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, str(Path(__file__).with_name("run.py")),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    detail, result = p.stdout.strip().splitlines()[-2:]
    return {"detail": json.loads(detail), "result": json.loads(result)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rec = {"seed": a.seed, "seconds": a.seconds, "workloads": {}}
    for w in WORKLOADS:
        pairs = []
        for i in range(a.pairs):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            runs = {t: run(w, a.seed, a.seconds, t) for t in order}
            plain = runs[0]["result"]["metrics"]["op_mean_ms"]["value"]
            traced = runs[1]["result"]["metrics"]["trace.op_mean_ms"]["value"]
            pairs.append({"untraced": runs[0], "traced": runs[1],
                          "overhead": traced / plain - 1})
        overhead = statistics.median(p["overhead"] for p in pairs)
        rec["workloads"][w] = {"pairs": pairs, "trace_overhead": overhead}
        print(w, "overhead", [round(p["overhead"], 3) for p in pairs],
              "median", round(overhead, 3), file=sys.stderr)
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(rec, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
