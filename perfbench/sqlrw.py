"""``sql_read_write``: one round of ``sql_exec.execute_sql`` statements per
op against a partitioned snapshot table, reads beside writes, checked by
replaying the same statement schedule on an in-memory model."""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote, urlparse

import numpy as np

import gen
from harness import (
    Loop, cores, mean, median, peak_rss_mb, quantile, repeat_median, warm_up,
)

SPECS = {
    "full": gen.SqlSpec(rows=100_000, users=5_000),
    "tiny": gen.SqlSpec(rows=5_000, users=250, insert_rows=200, merge_keys=50,
                        delete_keys=20),
}
_CHANNELS_SQL = "array(" + ", ".join(f"'{c}'" for c in gen.CHANNELS) + ")"
_COLS = "session_id, user_id, unix_micros(ts) AS ts_us, channel_name, cost"
_AGG = "SELECT channel_name, COUNT(*) AS n, SUM(cost) AS total FROM sessions"


def _insert_day_s(spec) -> int:
    """Inserted sessions land on the table's last day."""
    return (gen.EPOCH_US + (spec.days - 1) * gen.DAY_US) // 1_000_000


def statement(st: dict, spec) -> str:
    k = st["kind"]
    if k == "point":
        return f"SELECT {_COLS} FROM sessions WHERE session_id = {st['key']}"
    if k == "pruned_agg":
        return f"{_AGG} WHERE DAY(ts) = {st['day']} GROUP BY channel_name"
    if k == "full_agg":
        return f"{_AGG} GROUP BY channel_name"
    if k == "insert":
        return (
            "INSERT INTO sessions SELECT id AS session_id, "
            f"id % {spec.users} AS user_id, "
            f"TIMESTAMP_SECONDS({_insert_day_s(spec)} + (id * 7919) % 86400) AS ts, "
            f"element_at({_CHANNELS_SQL}, CAST(id % 8 AS INT) + 1) AS channel_name, "
            "CAST(id % 400 + 5 AS DOUBLE) / 100 AS cost "
            f"FROM RANGE({st['lo']}, {st['lo'] + spec.insert_rows})"
        )
    if k == "merge":
        return (
            "MERGE INTO sessions t USING (SELECT id AS session_id, "
            "CAST(id % 97 AS DOUBLE) / 10 AS cost "
            f"FROM RANGE({st['lo']}, {st['hi'] + 1})) s "
            "ON t.session_id = s.session_id "
            "WHEN MATCHED THEN UPDATE SET cost = s.cost"
        )
    if k == "delete":
        return f"DELETE FROM sessions WHERE session_id BETWEEN {st['lo']} AND {st['hi']}"
    raise ValueError(k)


class Model:
    """The table as NumPy columns, replaying the statements in order."""

    def __init__(self, table, spec):
        self.spec = spec
        self.initial = {
            "session_id": table["session_id"].to_numpy(),
            "user_id": table["user_id"].to_numpy(),
            "ts_us": table["ts"].cast("int64").to_numpy(),
            "channel_name": table["channel_name"].to_numpy(zero_copy_only=False),
            "cost": table["cost"].to_numpy(),
        }
        self.cols = dict(self.initial)

    def _keep(self, mask) -> None:
        self.cols = {k: v[mask] for k, v in self.cols.items()}

    def apply(self, st: dict):
        """Apply a write; return the expected result of a read."""
        c, k = self.cols, st["kind"]
        if k == "point":
            m = c["session_id"] == st["key"]
            return sorted(zip(*(c[x][m].tolist() for x in c)))
        if k in ("pruned_agg", "full_agg"):
            m = np.ones(len(c["session_id"]), bool)
            if k == "pruned_agg":
                day = (c["ts_us"] - gen.EPOCH_US) // gen.DAY_US + 1
                m = day == st["day"]
            out = {}
            for ch, cost in zip(c["channel_name"][m], c["cost"][m]):
                n, tot = out.get(ch, (0, 0.0))
                out[ch] = (n + 1, tot + cost)
            return out
        if k == "insert":
            ids = np.arange(st["lo"], st["lo"] + self.spec.insert_rows, dtype="int64")
            new = {
                "session_id": ids,
                "user_id": ids % self.spec.users,
                "ts_us": (_insert_day_s(self.spec) + (ids * 7919) % 86400) * 1_000_000,
                "channel_name": np.array(gen.CHANNELS, dtype=object)[ids % 8],
                "cost": (ids % 400 + 5).astype(float) / 100,
            }
            self.cols = {x: np.concatenate([c[x], new[x]]) for x in c}
        elif k == "merge":
            m = (c["session_id"] >= st["lo"]) & (c["session_id"] <= st["hi"])
            c["cost"] = c["cost"].copy()
            c["cost"][m] = (c["session_id"][m] % 97).astype(float) / 10
        elif k == "delete":
            self._keep((c["session_id"] < st["lo"]) | (c["session_id"] > st["hi"]))
        elif k == "reset":
            self.cols = dict(self.initial)
        return None


def _rows(result, kind: str):
    if kind == "point":
        return sorted(tuple(r) for r in result)
    return {r["channel_name"]: (r["n"], r["total"]) for r in result}


def _same(got, want, kind: str) -> bool:
    if kind == "point":
        return got == want
    return got.keys() == want.keys() and all(
        got[k][0] == want[k][0]
        and abs(got[k][1] - want[k][1]) <= 1e-9 * max(1.0, abs(want[k][1]))
        for k in want
    )


def check(spark, cdir: str, initial, spec, done: list) -> list[str]:
    """Replay ``done`` — (statement, collected read result) pairs — on the
    model; every read must match the model at its point in the schedule,
    and the final table must equal the model's."""
    from data_engineering_challenge_spark import sql_exec

    model, problems = Model(initial, spec), []
    for st, got in done:
        want = model.apply(st)
        if st["kind"] in gen.READ_CLASSES and not _same(got, want, st["kind"]):
            problems.append(f"{st['kind']} {st} returned {got}, model says {want}")
    final = sql_exec.execute_sql(spark, f"SELECT {_COLS} FROM sessions", cdir).toPandas()
    final = final.sort_values("session_id", kind="stable").reset_index(drop=True)
    order = np.argsort(model.cols["session_id"], kind="stable")
    for col, want in model.cols.items():
        got = final[col].to_numpy()
        if len(got) != len(want) or not (got == want[order]).all():
            problems.append(f"final table column {col} differs from the model")
            break
    return problems


def run(ctx) -> dict:
    from data_engineering_challenge_spark import sql_exec
    from data_engineering_challenge_spark.sources import catalog as cat

    spark, tr = ctx.spark, ctx.tracer
    spec = SPECS[ctx.size]
    catalogs = []

    def setup():
        k = len(catalogs)
        src = os.path.join(ctx.work, f"sql-src-{k}")
        cdir = os.path.join(ctx.work, f"catalog-{k}")
        with tr.span("gen.sql_sessions"):
            table = gen.sql_sessions(ctx.seed, spec)
            gen.write_parts(table, src, cores())
        with tr.span("sql_exec.execute_sql[create]"):
            sql_exec.execute_sql(
                spark,
                "CREATE TABLE sessions PARTITIONED BY (DAY(ts) AS d) "
                f"STATS BY (session_id, ts) AS SELECT * FROM parquet.`{src}`",
                cdir,
            )
        catalogs.append(cdir)
        return table

    setup_s, initial = repeat_median(setup, ctx.setup_reps)
    cdir = catalogs[-1]
    pristine = os.path.join(ctx.work, "catalog-pristine")
    shutil.copytree(cdir, pristine)
    root = cat.catalog_entries(cdir)["sessions"]["root"]
    inputs = {"rows": initial.num_rows, "table_files": _files(spark, root)[0]}

    def op(st, where):
        text = statement(st, spec)
        with tr.span("sql.statement"):
            with tr.span(f"sql_exec.execute_sql[{st['kind']}]"):
                res = sql_exec.execute_sql(spark, text, where)
            if st["kind"] not in gen.READ_CLASSES:
                return res
            with tr.span("spark.plan"):
                res._jdf.queryExecution().executedPlan()
            with tr.span("sql_exec.collect"):
                return res, res.collect()

    def reset():
        shutil.rmtree(cdir)
        shutil.copytree(pristine, cdir, copy_function=shutil.copy)

    # warm-up rounds draw from their own stream; each restarts the table
    warm_rounds = gen.sql_rounds(ctx.seed + 1, spec)

    def warm_round():
        reset()
        for st in next(warm_rounds):
            op(st, cdir)

    warm_up(warm_round, ctx.warm_s, least=1)
    tr.collect()
    tr.begin_measure()
    # whole rounds only, so every run executes the same statement mix; each
    # round starts from the set-up table (fresh copies, so no cache keyed on
    # file identity carries over), so rounds are alike however many fit
    loop, done, files, ops = Loop(ctx.seconds), [], [], []
    gc0 = tr.gc_s() if tr.enabled else 0.0
    rounds = gen.sql_rounds(ctx.seed, spec)
    while loop.time_left():
        reset()
        done.append(({"kind": "reset"}, None))
        first = len(loop.samples)
        for st in next(rounds):
            read = st["kind"] in gen.READ_CLASSES
            before = _files(spark, root) if tr.enabled and not read else None
            out = loop.run(st["kind"], op, st, cdir)
            tr.collect()
            if out is None:
                continue
            if read:
                df, rows = out
                done.append((st, _rows(rows, st["kind"])))
            else:
                done.append((st, None))
            if tr.enabled:
                n_data, data, every = _files(spark, root)
                if read:
                    opened = {
                        os.path.relpath(unquote(urlparse(u).path), root)
                        for u in df.inputFiles()
                    }
                    files.append(("read", len(opened & data) / max(1, n_data)))
                else:
                    files.append(("commit", len(every - before[2])))
        # the op is the round: its statements' time, without the
        # bookkeeping between them
        ops.append(sum(w for _k, w in loop.samples[first:]))

    rss = peak_rss_mb(spark)
    layers = {f"{k}_s_p50": loop.walls(k) for k in gen.SQL_CLASSES}
    layers["read_s_p90"] = quantile(loop.walls(*gen.READ_CLASSES), 0.9)
    if tr.enabled:
        layers["jvm.gc_s"] = tr.gc_s() - gc0
        layers.update(_layers(tr, spark, root, files))

    def recheck():
        return check(spark, cdir, initial, spec, done)

    return {
        "setup_s": setup_s, "inputs": inputs, "loop": loop, "ops": ops,
        "peak_rss_mb": rss, "layers": layers, "problems": recheck(),
        "recheck": recheck, "catalog": cdir, "done": done,
    }


def _files(spark, root: str) -> tuple[int, set, set]:
    """Of the live version, as paths relative to ``root``: the data file
    count, the data files, and every file (data and delete lists)."""
    from data_engineering_challenge_spark.sources import snapshots as sn

    rows = sn.snapshot_files(spark, root).select("file", "content").collect()
    data = {r.file for r in rows if r.content == "data"}
    return len(data), data, {r.file for r in rows}


def _layers(tr, spark, root: str, files: list) -> dict:
    from data_engineering_challenge_spark.sources import snapshots as sn

    m = {}
    calls = []
    for kind in gen.SQL_CLASSES:
        sp = tr.named(f"sql_exec.execute_sql[{kind}]")
        m[f"sql_exec.{kind}.call_s"] = median([s["end"] - s["start"] for s in sp])
        calls += [s["end"] - s["start"] for s in sp]
    m["sql_exec.call_s"] = median(calls)
    m["sql_exec.collect_s"] = median(
        [s["end"] - s["start"] for s in tr.named("sql_exec.collect")]
    )
    m["spark.plan_s"] = median([s["end"] - s["start"] for s in tr.named("spark.plan")])
    m["sources.snapshots.files_read_ratio"] = mean([v for k, v in files if k == "read"])
    m["sources.snapshots.files_per_commit"] = mean([v for k, v in files if k == "commit"])
    writes = [
        s for kind in ("insert", "merge", "delete")
        for s in tr.named(f"sql_exec.execute_sql[{kind}]")
    ]
    m["sources.snapshots.commit_jobs"] = mean([len(s["jobs"]) for s in writes])
    detail = sn.snapshot_detail(spark, root).first()
    m["sources.snapshots.table_files"] = detail.num_files
    m["sources.snapshots.delete_files"] = detail.num_delete_files
    m.update(tr.exec_metrics("sql.statement"))
    return m
