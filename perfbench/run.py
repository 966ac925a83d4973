#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the attribution engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Each workload builds its inputs from the
seed, sets up several times (the median is ``setup_s``), warms up (for
``WARM_UP_S`` seconds in the batch and SQL workloads), then runs a closed
loop of timed ops for ``--seconds``, and finally checks the program's
outputs, untimed.  ``op_s_p50`` is the median op time.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, read from spans and Spark's status stores,
and the spans are written to ``.perfbench/trace-<workload>-<seed>.json``.
A metric that a workload does not exercise reads 0.

Workloads (``BENCHMARK.json`` lists the first two, the gated set):

* ``batch_attribution``  one ``AttributionPipeline.run()``     (batch.py)
* ``sql_read_write``     one round of 10 ``sql_exec.execute_sql``
                         statements (sqlrw.py)
* ``incremental_report`` land one file, one ``incremental_report`` call
                         (stream.py); one timed op costs ~15 s, too few
                         samples per run to gate on

Scratch files go to ``.perfbench/work-<pid>`` under the current directory
and are removed at exit.  ``--size tiny`` shrinks every input for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# metric names and units are declared once, in BENCHMARK.json
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
#: seconds of untimed warm-up ops before the loop, per input size
WARM_UP_S = {"full": 25.0, "tiny": 0.0}


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    size: str
    setup_reps: int
    warm_s: float


def _workloads():
    import batch
    import sqlrw
    import stream

    return {
        "batch_attribution": batch.run,
        "sql_read_write": sqlrw.run,
        "incremental_report": stream.run,
    }


def _terminate(*_):
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
    sys.exit(143)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    # the engine lives in the checkout this is run from
    sys.path.insert(0, os.getcwd())
    try:
        import data_engineering_challenge_spark  # noqa: F401
    except ImportError:
        print(
            "perfbench: run from the repository root (no "
            "data_engineering_challenge_spark package here)",
            file=sys.stderr,
        )
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    import harness

    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, _terminate)
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        spark, session_s = harness.start_spark(work)
        tracer = harness.Tracer(spark) if args.trace else harness.NullTracer()
        ctx = Ctx(spark, tracer, args.seed, args.seconds, work, args.size, 3,
                  WARM_UP_S[args.size])
        t0, steal0 = time.perf_counter(), harness.cpu_steal()
        res = workloads[args.workload](ctx)
        steal1 = harness.cpu_steal()
        steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        print(f"perfbench: session {session_s:.1f} s, workload {time.perf_counter() - t0:.1f} s "
              f"of which timed ops {sum(res['ops']):.1f} s: "
              + " ".join(f"{w:.2f}" for w in res["ops"]), file=sys.stderr)
        metrics = _metrics(res, session_s, tracer, bool(args.trace))
        if args.trace:
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "cores": harness.cores(), "inputs": res["inputs"]},
            )
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    loop = res["loop"]
    correct = not res["problems"] and loop.failed == 0
    for p in res["problems"] + loop.errors:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"inputs": res["inputs"], "cores": harness.cores(),
                      "cpu_steal_share": steal_share}))
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _metrics(res, session_s, tracer, traced: bool) -> dict:
    from harness import median

    loop = res["loop"]
    if not traced:
        values = {
            "setup_s": session_s + res["setup_s"],
            "op_s_p50": median(res["ops"]),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        units = END_TO_END
    else:
        values = {k: 0.0 for k in PER_LAYER}
        for k, v in res["layers"].items():
            if k not in PER_LAYER:
                raise KeyError(f"undeclared per-layer metric {k}")
            values[k] = median(v) if isinstance(v, list) else float(v or 0)
        values["session.start_s"] = session_s
        values["error_rate"] = loop.failed / max(1, loop.attempted)
        values["trace.overhead_s"] = tracer.bookkeeping_s / max(1, loop.attempted)
        values["trace.op_s_p50"] = median(res["ops"])
        units = PER_LAYER
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(main())
