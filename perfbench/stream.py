"""``incremental_report``: per op, land one session file in the watched
directory and call ``streaming.incremental.incremental_report`` on the same
checkpoint, so each call processes exactly that batch.  Checked against
the report with linear attribution over every landed session."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import gen
import oracle
from harness import Loop, cores, mean, median, peak_rss_mb, repeat_median

SPECS = {  # (star schema, sessions per landed batch)
    "full": (gen.StarSpec(sessions=20_000, users=2_000, zipf=1.0), 1_000),
    "tiny": (gen.StarSpec(sessions=3_000, users=300, zipf=1.0), 500),
}
_SESSIONS = (
    "session_id BIGINT, user_id BIGINT, ts TIMESTAMP, channel_name STRING, "
    "holder_engagement INT, closer_engagement INT, impression_interaction INT"
)


def run(ctx) -> dict:
    from data_engineering_challenge_spark.sources.io import ensure_instant_timestamps
    from data_engineering_challenge_spark.streaming import incremental as st

    spark, tr = ctx.spark, ctx.tracer
    spec, batch_rows = SPECS[ctx.size]
    base = os.path.join(ctx.work, "stream")
    land = os.path.join(base, "landing")
    staging = os.path.join(base, "staging")
    state = os.path.join(base, "state")

    def setup():
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(land)
        os.makedirs(staging)
        with tr.span("gen.stream_batches"):
            frames = gen.stream_batches(ctx.seed, spec, batch_rows)
            for name in ("conversions", "session_costs"):
                gen.write_parts(frames[name], os.path.join(base, name), cores())
        return frames

    setup_s, frames = repeat_median(setup, ctx.setup_reps)
    batches = frames["batches"]
    ensure_instant_timestamps(spark)
    conversions = spark.read.parquet(os.path.join(base, "conversions"))
    costs = spark.read.parquet(os.path.join(base, "session_costs"))
    inputs = {
        "sessions": frames["session_sources"].num_rows,
        "conversions": frames["conversions"].num_rows,
        "batch_sessions": batch_rows,
        "batches_staged": len(batches),
    }

    def op(i: int) -> None:
        name = f"batch-{i:05d}.parquet"
        pq.write_table(batches[i], os.path.join(staging, name))
        os.rename(os.path.join(staging, name), os.path.join(land, name))
        stream = (
            spark.readStream.schema(_SESSIONS)
            .option("maxFilesPerTrigger", "1")
            .parquet(land)
            .withColumnRenamed("session_id", "event_id")
            .withColumnRenamed("channel_name", "event_type")
        )
        with tr.span("streaming.incremental.incremental_report"):
            st.incremental_report(
                stream, conversions, spark.read.parquet(land), costs,
                os.path.join(state, "journeys"), os.path.join(state, "attribution"),
                os.path.join(state, "report"), os.path.join(state, "checkpoint"),
            )

    op(0)  # warm-up batch, part of the state the check covers
    tr.collect()
    tr.begin_measure()
    loop = Loop(ctx.seconds)
    gc0 = tr.gc_s() if tr.enabled else 0.0
    landed = 1
    while loop.time_left() and landed < len(batches):
        loop.run("microbatch", op, landed)
        landed += 1
        tr.collect()
    rss = peak_rss_mb(spark)
    layers = {"microbatch_s_p50": loop.walls("microbatch")}
    if tr.enabled:
        layers["jvm.gc_s"] = tr.gc_s() - gc0
        layers.update(_layers(tr, state))
    inputs["batches_landed"] = landed

    def recheck():
        return check(spark, base, land, os.path.join(state, "report"))

    return {
        "setup_s": setup_s, "inputs": inputs, "loop": loop, "ops": loop.walls(),
        "peak_rss_mb": rss, "layers": layers, "problems": recheck(),
        "recheck": recheck,
    }


def check(spark, base: str, land: str, report_path: str) -> list[str]:
    """The maintained report must equal the batch report with linear
    attribution over all landed sessions, recomputed by the DuckDB twin
    (1e-6 relative: the report sums decimals rounded at 1e-10)."""
    from data_engineering_challenge_spark.streaming.incremental import read_merged

    con = oracle.twin(
        os.path.join(base, "conversions"), land, os.path.join(base, "session_costs"),
        "linear",
    )
    got = {
        (r[0], str(r[1])): tuple(r[2:])
        for r in read_merged(spark, report_path)
        .select("channel_name", "date", *oracle.REPORT_COLS).collect()
    }
    return oracle.report_problems(got, oracle.expected_report(con), 1e-6)


def _layers(tr, state: str) -> dict:
    sp = tr.named("streaming.incremental.incremental_report")
    busy = [tr.busy_s(s) for s in sp]
    walls = [s["end"] - s["start"] for s in sp]
    m = {
        "streaming.incremental.jobs_per_batch": mean([len(s["jobs"]) for s in sp]),
        "streaming.incremental.job_busy_s": median(busy),
        "streaming.incremental.machinery_s": median([w - b for w, b in zip(walls, busy)]),
        "streaming.incremental.state_files": sum(len(f) for _r, _d, f in os.walk(state)),
    }
    m.update(tr.exec_metrics("streaming.incremental.incremental_report"))
    return m
