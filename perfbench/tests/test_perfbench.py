"""The benchmark's own tests, at a tiny input size.

    python -m pytest perfbench/tests -q      (from the repository root)

Each workload runs end to end and prints every declared metric with its
unit; each correctness check fails on a deliberately corrupted output; and
the command refuses to run without the engine next to it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
import run as bench  # noqa: E402

WORKLOADS = ["batch_attribution", "sql_read_write", "incremental_report"]


def _bench(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _assert_metrics(metrics: dict, declared: dict) -> None:
    assert set(metrics) == set(declared)
    for name, m in metrics.items():
        assert m["unit"] == declared[name], name
        assert isinstance(m["value"], float), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    p = _bench(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
               "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    _assert_metrics(out["metrics"], bench.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(tmp_path, "--workload", "batch_attribution", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# -- traced in-process runs, then corrupted outputs ----------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark, start_s = harness.start_spark(work)
    yield spark, start_s, work
    harness.stop_spark(spark)


def _traced(session, workload, sub):
    spark, start_s, work = session
    tracer = harness.Tracer(spark)
    ctx = bench.Ctx(spark, tracer, 7, 1.0, os.path.join(work, sub), "tiny", 2, 0.0)
    os.makedirs(ctx.work, exist_ok=True)
    res = bench._workloads()[workload](ctx)
    assert res["problems"] == [] and res["loop"].failed == 0
    metrics = bench._metrics(res, start_s, tracer, True)
    _assert_metrics(metrics, bench.PER_LAYER)
    return res, ctx, {k: m["value"] for k, m in metrics.items()}


def _rewrite(path: str, fn) -> None:
    """Rewrite one parquet file through ``fn`` (an Arrow table map),
    dropping the checksum sidecar Spark would otherwise reject."""
    pq.write_table(fn(pq.read_table(path)), path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _nudge_first_ihc(t: pa.Table) -> pa.Table:
    ihc = t["ihc"].to_numpy().copy()
    ihc[0] += 1e-6
    return t.set_column(t.schema.get_field_index("ihc"), "ihc", pa.array(ihc))


def test_batch_check_catches_dropped_journey_row_and_perturbed_ihc(session):
    res, ctx, m = _traced(session, "batch_attribution", "batch")
    assert m["pipeline_s"] > 0 and m["operators.journeys.rows_out"] > 0
    assert m["operators.journeys.task_s"] > 0 and m["spark.exec.jobs"] > 0

    journeys = sorted(glob.glob(f"{ctx.work}/out/customer_journeys.parquet/*/*.parquet"))
    keep = pq.read_table(journeys[0])
    _rewrite(journeys[0], lambda t: t.slice(1))
    assert any("journeys" in p for p in res["recheck"]())
    pq.write_table(keep, journeys[0])
    assert res["recheck"]() == []

    attribution = sorted(glob.glob(f"{ctx.work}/star/attribution_customer_journey/*.parquet"))
    f = next(p for p in attribution if pq.read_metadata(p).num_rows)
    _rewrite(f, _nudge_first_ihc)
    problems = res["recheck"]()
    assert any("ihc" in p for p in problems), problems


def test_sql_check_catches_wrong_read_and_unrecorded_write(session):
    from data_engineering_challenge_spark import sql_exec

    res, _ctx, m = _traced(session, "sql_read_write", "sql")
    assert m["sql_exec.call_s"] > 0 and m["sources.snapshots.table_files"] > 0
    read = next(i for i, (st, got) in enumerate(res["done"]) if st["kind"] == "full_agg")
    st, got = res["done"][read]
    ch = sorted(got)[0]
    res["done"][read] = (st, {**got, ch: (got[ch][0] + 1, got[ch][1])})
    assert any("full_agg" in p for p in res["recheck"]())
    res["done"][read] = (st, got)
    assert res["recheck"]() == []

    sql_exec.execute_sql(
        session[0], "DELETE FROM sessions WHERE session_id = 0", res["catalog"]
    )
    assert any("final table" in p for p in res["recheck"]())


def test_incremental_check_catches_a_dropped_report_row(session):
    res, ctx, m = _traced(session, "incremental_report", "stream")
    assert m["microbatch_s_p50"] > 0 and m["streaming.incremental.jobs_per_batch"] > 0
    files = [
        p for p in glob.glob(f"{ctx.work}/stream/state/report/**/*.parquet", recursive=True)
        if pq.read_metadata(p).num_rows
    ]
    _rewrite(files[0], lambda t: t.slice(1))
    problems = res["recheck"]()
    assert problems and "report rows differ" in problems[0]
