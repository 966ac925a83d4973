"""``batch_attribution``: one ``AttributionPipeline.run()`` per op, on a
seeded star schema, checked against a DuckDB recomputation."""

from __future__ import annotations

import os
import shutil

import gen
import oracle
from harness import Loop, cores, mean, median, peak_rss_mb, repeat_median, warm_up

API_CAP = 2_000  # sessions per conversion the attribution API accepts

SPECS = {
    # Zipf(1.0) activity puts the longest journey just past the API cap
    # while keeping journey rows near 0.15M, so one run takes seconds
    "full": gen.StarSpec(sessions=17_000, users=2_000, zipf=1.0),
    "tiny": gen.StarSpec(sessions=3_000, users=300, zipf=1.0),
}

def twin(table_dir: str):
    return oracle.twin(
        f"{table_dir}/conversions.parquet", f"{table_dir}/session_sources.parquet",
        f"{table_dir}/session_costs.parquet", "position_engagement",
    )


def input_properties(con, table_dir: str) -> dict:
    """Measured properties of the generated inputs, from the twin's
    journeys."""
    n, longest, over = con.execute(
        f"SELECT count(*), max(k), avg(CAST(k > {API_CAP} AS DOUBLE)) "
        "FROM (SELECT conversion_id, count(*) AS k FROM j GROUP BY 1)"
    ).fetchone()
    files = {
        name: len(os.listdir(os.path.join(table_dir, f"{name}.parquet")))
        for name in ("conversions", "session_sources", "session_costs")
    }
    return {
        "journey_rows": con.execute("SELECT count(*) FROM j").fetchone()[0],
        "converting_journeys": n,
        "longest_journey": longest,
        "over_cap_share": over,
        "files_per_table": files,
    }


def _output_views(con, table_dir: str, journeys_path: str, report_path: str) -> None:
    """The pipeline's outputs as DuckDB views: journeys ``sj``,
    attribution ``sa`` and report ``sr``."""
    con.execute(
        "CREATE OR REPLACE VIEW sj AS SELECT * FROM read_parquet("
        f"'{journeys_path}/*/*.parquet', hive_partitioning = true)"
    )
    con.execute(
        "CREATE OR REPLACE VIEW sa AS SELECT * FROM read_parquet("
        f"'{table_dir}/attribution_customer_journey/*.parquet')"
    )
    con.execute(
        "CREATE OR REPLACE VIEW sr AS SELECT * REPLACE (CAST(date AS VARCHAR) AS date) "
        f"FROM read_parquet('{report_path}/*/*.parquet', hive_partitioning = true)"
    )


def check(con, table_dir: str, journeys_path: str, report_path: str) -> list[str]:
    """Compare the pipeline's three outputs with the DuckDB twin ``con``;
    returns the problems found (empty when correct)."""
    _output_views(con, table_dir, journeys_path, report_path)
    problems = []
    q = con.execute
    diff = q(
        "SELECT (SELECT count(*) FROM (SELECT conversion_id, session_id FROM sj "
        "EXCEPT ALL SELECT conversion_id, session_id FROM j)), "
        "(SELECT count(*) FROM (SELECT conversion_id, session_id FROM j "
        "EXCEPT ALL SELECT conversion_id, session_id FROM sj))"
    ).fetchone()
    if diff != (0, 0):
        problems.append(f"journeys differ from the as-of join: {diff} extra/missing rows")
    bad_sum = q(
        "SELECT count(*) FROM (SELECT conversion_id, sum(ihc) AS s FROM sa "
        "GROUP BY 1) WHERE abs(s - 1) > 1e-9"
    ).fetchone()[0]
    if bad_sum:
        problems.append(f"{bad_sum} conversions whose ihc does not sum to 1")
    n_sa, n_a, bad_ihc = q(
        "SELECT (SELECT count(*) FROM sa), (SELECT count(*) FROM a), "
        "(SELECT count(*) FROM sa JOIN a USING (conversion_id, session_id) "
        " WHERE abs(sa.ihc - a.ihc) > 1e-9)"
    ).fetchone()
    if n_sa != n_a or bad_ihc:
        problems.append(
            f"attribution differs: {n_sa} vs {n_a} rows, {bad_ihc} ihc values off"
        )
    got = {
        (r[0], r[1]): r[2:]
        for r in q(f"SELECT channel_name, date, {', '.join(oracle.REPORT_COLS)} FROM sr").fetchall()
    }
    problems += oracle.report_problems(got, oracle.expected_report(con), 1e-9)
    return problems


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def run(ctx) -> dict:
    from data_engineering_challenge_spark.config import PipelineConfig
    from data_engineering_challenge_spark.pipeline import AttributionPipeline

    spark, tr = ctx.spark, ctx.tracer
    spec = SPECS[ctx.size]
    table_dir = os.path.join(ctx.work, "star")
    out = os.path.join(ctx.work, "out")

    def setup():
        shutil.rmtree(table_dir, ignore_errors=True)
        with tr.span("gen.star_schema"):
            gen.star_schema(ctx.seed, table_dir, spec, parts=cores())

    setup_s, _ = repeat_median(setup, ctx.setup_reps)
    cfg = PipelineConfig(
        table_dir=table_dir,
        journeys_path=os.path.join(out, "customer_journeys.parquet"),
        report_path=os.path.join(out, "channel_reporting.parquet"),
        csv_exports=False,
        model="position_engagement",
    )

    def op():
        pipe = AttributionPipeline(spark, cfg)
        for step in ("build_journeys", "attribute", "report"):
            tr.wrap(pipe, step, f"pipeline.{step}")
        with tr.span("pipeline.run"):
            pipe.run()

    warm_up(op, ctx.warm_s, least=2)  # class loading, codegen, JIT
    tr.collect()
    tr.begin_measure()
    loop = Loop(ctx.seconds)
    gc0 = tr.gc_s() if tr.enabled else 0.0
    while loop.time_left():
        loop.run("pipeline", op)
        tr.collect()
    rss = peak_rss_mb(spark)  # before the DuckDB twin grows this process
    con = twin(table_dir)
    inputs = input_properties(con, table_dir)
    layers = {"pipeline_s": loop.walls("pipeline")}
    if tr.enabled:
        layers.update(_layers(tr, con, table_dir, cfg))
        layers["jvm.gc_s"] = tr.gc_s() - gc0

    def recheck():
        return check(con, table_dir, cfg.journeys_path, cfg.report_path)

    return {
        "setup_s": setup_s, "inputs": inputs, "loop": loop, "ops": loop.walls(),
        "peak_rss_mb": rss, "layers": layers, "problems": recheck(),
        "recheck": recheck,
    }


#: operator layer -> (the pipeline step span it runs in, counters kept)
_OPERATOR_COUNTERS = {
    "journeys": ("pipeline.build_journeys", ("task_s", "shuffle_write_mb", "spill_mb")),
    "attribution": ("pipeline.attribute", ("task_s", "shuffle_read_mb", "spill_mb")),
    "report": ("pipeline.report", ("task_s", "shuffle_read_mb")),
}


def _layers(tr, con, table_dir: str, cfg) -> dict:
    m = {}
    for layer, (span, keys) in _OPERATOR_COUNTERS.items():
        sp = tr.named(span)
        m[f"{span}_s"] = median([s["end"] - s["start"] for s in sp])
        for k in keys:
            m[f"operators.{layer}.{k}"] = mean([tr.total(s, k) for s in sp])
    # output-side counts, read from what the last run left on disk
    _output_views(con, table_dir, cfg.journeys_path, cfg.report_path)
    rows, longest, over = con.execute(
        f"SELECT sum(k), max(k), avg(CAST(k > {API_CAP} AS DOUBLE)) FROM "
        "(SELECT conversion_id, count(*) AS k FROM sj GROUP BY 1)"
    ).fetchone()
    m["operators.journeys.rows_out"] = rows
    m["operators.journeys.max_len"] = longest
    m["operators.journeys.over_cap_share"] = over
    m["operators.attribution.ihc_violations"] = con.execute(
        "SELECT count(*) FROM (SELECT conversion_id, sum(ihc) AS s FROM sa "
        "GROUP BY 1) WHERE abs(s - 1) > 1e-4"
    ).fetchone()[0]
    m["operators.report.rows_out"] = con.execute("SELECT count(*) FROM sr").fetchone()[0]
    files = size = 0
    for path in (
        cfg.journeys_path,
        os.path.join(table_dir, "attribution_customer_journey"),
        cfg.report_path,
    ):
        n, b = _dir_files(path)
        files, size = files + n, size + b
    m["sources.io.files_written"] = files
    m["sources.io.mb_written"] = size / 2**20
    m.update(tr.exec_metrics("pipeline.run"))
    return m
