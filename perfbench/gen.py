"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + PyArrow, so inputs are made without Spark and
the same seed always gives byte-identical tables:

* ``star_schema``: the attribution star schema (``conversions``,
  ``session_sources``, ``session_costs``) with Zipf-distributed user
  activity, so a few heavy users own journeys past the 2,000-session API
  cap.
* ``sql_rounds``: the statement schedule of the SQL workload.
* ``stream_batches``: session batches landed one file at a time by the
  incremental workload.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHANNELS = [
    "Paid Search", "Organic Search", "Email", "Social",
    "Display", "Referral", "Direct", "Affiliate",
]
#: channel popularity (sums to 1)
CHANNEL_P = [0.24, 0.2, 0.14, 0.12, 0.1, 0.08, 0.07, 0.05]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as a directory of ``parts`` row-split parquet files
    (a Spark-style table directory, so scans get one task per file)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


# -- attribution star schema -------------------------------------------------


@dataclass(frozen=True)
class StarSpec:
    sessions: int = 200_000
    users: int = 2_000
    zipf: float = 0.5
    conv_rate: float = 0.05
    cost_coverage: float = 0.9
    days: int = 30


def star_frames(seed: int, spec: StarSpec) -> dict[str, pa.Table]:
    """The three input tables as Arrow tables.  User activity follows
    Zipf(``spec.zipf``) over the user ids (user k is the k-th most active),
    with each user's session and conversion counts fixed by the spec, and
    conversions spread evenly over each user's timeline, so every seed
    does the same work.  Fixing which id is heavy also fixes which hash
    partition the heaviest journeys land in; the heaviest user owns more
    than half of the journey rows, so a seed-drawn id would change the
    longest task from seed to seed.  The seed places sessions in time and
    picks the converting session in each slice; a conversion follows its
    session within the hour."""
    rng = np.random.default_rng(seed)
    n, u = spec.sessions, spec.users
    w = np.arange(1, u + 1, dtype=float) ** -spec.zipf
    per_user = np.floor(n * w / w.sum()).astype(int)
    per_user[: n - per_user.sum()] += 1
    users = rng.permutation(np.repeat(np.arange(u, dtype="int64"), per_user))
    ts = np.sort(EPOCH_US + rng.integers(0, spec.days * DAY_US, size=n))
    sessions = pa.table({
        "session_id": pa.array(np.arange(n, dtype="int64")),
        "user_id": pa.array(users),
        "ts": _ts(ts),
        "channel_name": pa.array(
            np.array(CHANNELS)[rng.choice(len(CHANNELS), size=n, p=CHANNEL_P)]
        ),
        "holder_engagement": pa.array(rng.integers(0, 2, size=n, dtype="int32")),
        "closer_engagement": pa.array(
            (rng.random(n) < 0.3).astype("int32")
        ),
        "impression_interaction": pa.array(
            (rng.random(n) < 0.2).astype("int32")
        ),
    })
    # each user converts on round(conv_rate · its sessions) sessions, one
    # drawn from each of as many equal slices of its timeline
    in_time = np.argsort(users, kind="stable")  # by user, then by time
    count = np.bincount(users, minlength=u)
    first = np.concatenate([[0], np.cumsum(count)[:-1]])
    k = np.rint(spec.conv_rate * count).astype("int64")
    who = np.repeat(np.arange(u), k)
    i = np.arange(who.size) - np.repeat(np.cumsum(k) - k, k)
    pos = first[who] + ((i + rng.random(who.size)) * count[who] // k[who]).astype("int64")
    src = np.sort(in_time[pos])
    c = src.size
    conversions = pa.table({
        "conv_id": pa.array(np.arange(c, dtype="int64")),
        "user_id": pa.array(users[src]),
        "conv_ts": _ts(ts[src] + rng.integers(0, 3_600_000_000, size=c)),
        "revenue": pa.array(np.round(rng.lognormal(3.5, 0.8, size=c), 2)),
    })
    covered = np.flatnonzero(rng.random(n) < spec.cost_coverage)
    costs = pa.table({
        "session_id": pa.array(covered.astype("int64")),
        "cost": pa.array(np.round(rng.uniform(0.05, 4.0, size=covered.size), 2)),
    })
    return {
        "conversions": conversions,
        "session_sources": sessions,
        "session_costs": costs,
    }


def star_schema(seed: int, table_dir: str, spec: StarSpec, parts: int) -> None:
    """Write the star schema under ``table_dir`` as ``<name>.parquet``
    directories."""
    for name, t in star_frames(seed, spec).items():
        write_parts(t, os.path.join(table_dir, f"{name}.parquet"), parts)


# -- SQL statement schedule --------------------------------------------------

#: one round of the schedule: 3 point lookups, 2 day aggregates, 2 full
#: aggregates and one each of INSERT, MERGE and DELETE, so 70% reads.  The
#: order is fixed and only the parameters are drawn from the seed: a MERGE
#: rewrites the table's file layout, so a seed-shuffled order would change
#: what the reads after it cost from seed to seed.  Rounds are short so
#: that a run completes several of them.
SQL_ROUND = (
    "point", "pruned_agg", "insert", "full_agg", "point",
    "merge", "pruned_agg", "point", "delete", "full_agg",
)
SQL_CLASSES = ("point", "pruned_agg", "full_agg", "insert", "merge", "delete")
READ_CLASSES = ("point", "pruned_agg", "full_agg")


@dataclass(frozen=True)
class SqlSpec:
    rows: int = 200_000
    users: int = 10_000
    days: int = 14  # within one month: DAY(ts) is the day of the month
    insert_rows: int = 2_000
    merge_keys: int = 500
    delete_keys: int = 200


def sql_sessions(seed: int, spec: SqlSpec) -> pa.Table:
    """The ``sessions`` table the SQL workload starts from: ``days`` days
    from 2024-01-01, session ids ascending with time."""
    rng = np.random.default_rng(seed)
    n = spec.rows
    return pa.table({
        "session_id": pa.array(np.arange(n, dtype="int64")),
        "user_id": pa.array(rng.integers(0, spec.users, size=n, dtype="int64")),
        # ids are handed out in time order, as a session service does
        "ts": _ts(np.sort(EPOCH_US + rng.integers(0, spec.days * DAY_US, size=n))),
        "channel_name": pa.array(
            np.array(CHANNELS)[rng.choice(len(CHANNELS), size=n, p=CHANNEL_P)]
        ),
        "cost": pa.array(np.round(rng.uniform(0.05, 4.0, size=n), 2)),
    })


def sql_rounds(seed: int, spec: SqlSpec):
    """Endless rounds of ``SQL_ROUND``.  Every statement carries its
    parameters, drawn from the seed: the looked-up key, the aggregated
    day, the inserted id range, the merged or deleted key range.  Inserted
    ids continue past the table; merge and delete ranges are drawn inside
    the original key space."""
    rng = np.random.default_rng([seed, 1])  # apart from the table's stream
    next_id = spec.rows
    while True:
        out = []
        for kind in SQL_ROUND:
            st = {"kind": kind}
            if st["kind"] == "point":
                st["key"] = int(rng.integers(0, spec.rows))
            elif st["kind"] == "pruned_agg":
                st["day"] = int(rng.integers(1, spec.days + 1))
            elif st["kind"] == "insert":
                st["lo"], next_id = next_id, next_id + spec.insert_rows
            elif st["kind"] in ("merge", "delete"):
                width = spec.merge_keys if st["kind"] == "merge" else spec.delete_keys
                st["lo"] = int(rng.integers(0, spec.rows - width))
                st["hi"] = st["lo"] + width - 1
            out.append(st)
        yield out


# -- stream batches ----------------------------------------------------------


def stream_batches(seed: int, spec: StarSpec, batch_sessions: int) -> dict:
    """Star-schema inputs for the incremental workload, with the sessions
    also cut in time order into ``batches`` of ``batch_sessions`` rows."""
    frames = star_frames(seed, spec)
    s = frames["session_sources"]
    n = s.num_rows
    batches = [
        s.slice(lo, min(batch_sessions, n - lo))
        for lo in range(0, n, batch_sessions)
    ]
    return {**frames, "batches": batches}
