"""DuckDB twin of the attribution pipeline, the reference the batch and the
incremental workloads check their outputs against."""

from __future__ import annotations

import duckdb

from harness import cores

#: raw credit of a journey row; ihc is raw / Σ raw over the conversion
SCORES = {
    # first 2, last 2·(1 + closer), middle 1·(1 + holder)
    "position_engagement": (
        "CASE WHEN rn = 1 THEN 2.0 WHEN rn = n THEN 2.0 * (1 + closer_engagement) "
        "ELSE 1.0 * (1 + holder_engagement) END"
    ),
    "linear": "1.0",
}

_TWIN = """
CREATE OR REPLACE TABLE j AS
SELECT c.conv_id AS conversion_id, s.session_id, s.ts,
       s.holder_engagement, s.closer_engagement
FROM conv c JOIN sess s ON s.user_id = c.user_id AND s.ts <= c.conv_ts;
CREATE OR REPLACE TABLE a AS
WITH r AS (
    SELECT *, row_number() OVER (PARTITION BY conversion_id
                                 ORDER BY ts, session_id) AS rn,
           count(*) OVER (PARTITION BY conversion_id) AS n
    FROM j
), raw AS (
    SELECT conversion_id, session_id, CAST({score} AS DOUBLE) AS raw FROM r
)
SELECT conversion_id, session_id,
       raw / sum(raw) OVER (PARTITION BY conversion_id) AS ihc
FROM raw;
CREATE OR REPLACE TABLE rep AS
WITH sd AS (
    SELECT s.session_id, s.channel_name, CAST(s.ts AS DATE) AS date,
           COALESCE(k.cost, 0.0) AS cost
    FROM sess s LEFT JOIN costs k USING (session_id)
), att AS (
    SELECT sd.channel_name, sd.date, sd.cost, a.ihc, a.ihc * c.revenue AS ihc_revenue
    FROM sd JOIN a USING (session_id) JOIN conv c ON c.conv_id = a.conversion_id
)
SELECT channel_name, CAST(date AS VARCHAR) AS date,
       sum(cost) AS cost, sum(ihc) AS ihc, sum(ihc_revenue) AS ihc_revenue
FROM att GROUP BY 1, 2;
"""

REPORT_COLS = ("cost", "ihc", "ihc_revenue", "CPO", "ROAS")


def twin(conversions: str, sessions: str, costs: str, model: str):
    """A DuckDB connection holding journeys ``j``, attribution ``a`` and
    report ``rep`` computed from the parquet directories given."""
    con = duckdb.connect()
    con.execute(f"SET threads = {cores()}")
    for view, path in (("conv", conversions), ("sess", sessions), ("costs", costs)):
        con.execute(
            f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    con.execute(_TWIN.format(score=SCORES[model]))
    return con


def expected_report(con) -> dict:
    """(channel, date) -> cost, ihc, ihc_revenue, CPO, ROAS, with the
    pipeline's rule that a zero denominator gives 0."""
    return {
        (ch, d): (cost, ihc, rev, cost / ihc if ihc else 0.0, rev / cost if cost else 0.0)
        for ch, d, cost, ihc, rev in con.execute(
            "SELECT channel_name, date, cost, ihc, ihc_revenue FROM rep"
        ).fetchall()
    }


def report_problems(got: dict, want: dict, rel: float) -> list[str]:
    """Compare two reports keyed by (channel, date), each value within
    ``rel`` of the expected one (relative, or absolute below 1)."""
    if got.keys() != want.keys():
        return [
            f"report rows differ: {len(got.keys() - want.keys())} extra, "
            f"{len(want.keys() - got.keys())} missing"
        ]
    off = [
        k for k in want
        if any(abs(g - w) > rel * max(1.0, abs(w)) for g, w in zip(got[k], want[k]))
    ]
    return [f"{len(off)} report rows off, e.g. {off[0]}"] if off else []
