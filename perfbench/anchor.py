#!/usr/bin/env python3
"""Measure the baseline: two sets of ten seeded runs of every workload,
plus traced runs for the per-layer metrics and the cost of tracing.

    python3 perfbench/anchor.py --out perfbench/anchor.json

Run from the repository root.  The workloads and ``run_seconds`` come from
``BENCHMARK.json``.  Set k uses seeds ``1000*k + 1 ... 1000*k + 10``.  The
sets are interleaved: for each seed index, every workload runs once in
each set, back to back and in alternating order, so a machine that slows
down over the hours slows both sets alike.  For every end-to-end metric
and workload the output holds each set's values, median and quartile
spread (the distance between the first and third quartile as a share of
the median), and the second set's median as a share of the first's.

The first three seeds of set 1 also get a traced run.  Their medians give
the per-layer metrics, and the tracing overhead is the traced op median
against the untraced one over those same seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETS, SEEDS, TRACED = 2, 10, 3


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
    if not out.get("correct"):
        raise SystemExit(f"{workload} seed {seed}: failed\n{p.stderr[-3000:]}")
    out["info"] = json.loads(lines[-2])
    out["wall_s"] = time.time() - t0
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def _values(runs: list[dict], name: str) -> list[float]:
    return [r["metrics"][name]["value"] for r in runs]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    names = [m["name"] for m in spec["end_to_end"]]

    runs = {w: {k: [] for k in range(1, SETS + 1)} for w in workloads}
    traced = {w: [] for w in workloads}
    for i in range(1, SEEDS + 1):
        for w in workloads:
            order = range(1, SETS + 1) if i % 2 else range(SETS, 0, -1)
            for k in order:
                r = _run(w, 1000 * k + i, seconds, 0)
                runs[w][k].append(r)
                print(w, 1000 * k + i, round(r["wall_s"], 1),
                      round(r["info"]["cpu_steal_share"], 3),
                      {n: round(r["metrics"][n]["value"], 4) for n in names},
                      flush=True)
            if i <= TRACED:
                traced[w].append(_run(w, 1000 + i, seconds, 1))

    result = {
        "cores": len(os.sched_getaffinity(0)),
        "run_seconds": seconds,
        "sets": SETS,
        "seeds_per_set": SEEDS,
        "date_utc": time.strftime("%Y-%m-%d %H:%M", time.gmtime()),
        "workloads": {},
    }
    for w in workloads:
        sets = [runs[w][k] for k in range(1, SETS + 1)]
        entry = {
            "wall_s_mean": statistics.mean(r["wall_s"] for s in sets for r in s),
            "cpu_steal_share": [
                [r["info"]["cpu_steal_share"] for r in s] for s in sets
            ],
            "inputs_first_seed": sets[0][0]["info"]["inputs"],
            "metrics": {},
        }
        for n in names:
            per_set = [_values(s, n) for s in sets]
            entry["metrics"][n] = {
                "sets": [
                    {"values": v, "median": statistics.median(v), "spread": spread(v)}
                    for v in per_set
                ],
                "median_ratio": statistics.median(per_set[-1]) / statistics.median(per_set[0]),
            }
        t = _values(traced[w], "trace.op_s_p50")
        u = _values(sets[0][:TRACED], "op_s_p50")
        per_layer = {
            n: statistics.median(_values(traced[w], n))
            for n in traced[w][0]["metrics"]
        }
        entry["tracing"] = {
            "seeds": [1000 + i for i in range(1, TRACED + 1)],
            "traced_op_s_p50": t,
            "untraced_op_s_p50": u,
            "overhead_share": statistics.median(t) / statistics.median(u) - 1,
            "per_layer_median": per_layer,
        }
        if per_layer["pipeline_s"]:  # the driver gap is per pipeline run here
            entry["tracing"]["driver_gap_share"] = (
                per_layer["spark.driver.gap_s"] / per_layer["pipeline_s"]
            )
        result["workloads"][w] = entry
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
