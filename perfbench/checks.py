"""Output checks.  Each returns a list of problems; empty means correct.

The oracles are DuckDB SQL over the same parquet the engine read, built
from the engine's own oracle fragments (``deltas.DELTAS_SQL`` and the
metric list of ``queries.ORACLES``)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as pds

METRIC_COLS = [
    "turn_count",
    "lat_min_ms",
    "lat_max_ms",
    "lat_avg_ms",
    "lat_p50_ms",
    "lat_p90_ms",
    "lat_p99_ms",
    "err4xx_rate",
    "err5xx_rate",
]


def _by_bucket(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    b = pd.to_datetime(df["bucket_start"])
    df["bucket_start"] = b.dt.tz_localize(None) if b.dt.tz is not None else b
    return df.set_index("bucket_start").sort_index()


# clean(): valid rows, first row per (conv_id, turn_idx) by ts
_CLEAN_SQL = """
    SELECT * FROM raw
    WHERE ts IS NOT NULL AND conv_id IS NOT NULL
      AND turn_idx IS NOT NULL AND turn_idx >= 0
    QUALIFY ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts) = 1
"""


def tier_oracle(files: list[str]) -> dict[str, pd.DataFrame]:
    """{tier: rows by bucket_start} for the minute, hour and day tiers of
    the given transcript files under DuckDB, with the engine's clean()
    and delta semantics and the oracle metric list of queries.ORACLES."""
    from rollup_engine.deltas import DELTAS_SQL
    from rollup_engine.queries import _METRICS_SQL

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        listing = ", ".join(f"'{f}'" for f in files)
        con.execute(
            f"CREATE TABLE d AS WITH raw AS (SELECT conv_id, turn_idx, tool, ts "
            f"FROM read_parquet([{listing}])), t AS ({_CLEAN_SQL}) {DELTAS_SQL}"
        )
        return {
            tier: _by_bucket(
                con.sql(
                    f"SELECT date_trunc('{tier}', ts) AS bucket_start, {_METRICS_SQL} "
                    "FROM d WHERE delta_ms IS NOT NULL GROUP BY 1"
                ).df()
            )
            for tier in ("minute", "hour", "day")
        }
    finally:
        con.close()


def _differences(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    problems = []
    for c in METRIC_COLS + (["lat_sum_ms"] if "lat_sum_ms" in got else []):
        a, b = got[c].to_numpy("float64"), want[c].to_numpy("float64")
        bad = int((~((a == b) | (np.isnan(a) & np.isnan(b)))).sum())
        if bad:
            problems.append(f"{what}.{c}: {bad} buckets differ from the oracle")
    return problems


def check_tier(tier: str, path: str, want: pd.DataFrame) -> list[str]:
    """A written tier holds exactly the oracle's buckets and values."""
    got = _by_bucket(pds.dataset(path, format="parquet").to_table().to_pandas())
    if list(got.index) != list(want.index):
        return [f"{tier}: {len(got)} buckets, oracle has {len(want)}"]
    return _differences(got, want, tier)


def check_stream(got: pd.DataFrame, minute: pd.DataFrame) -> list[str]:
    """Buckets a stream pass emitted equal the batch minute tier's
    (``minute`` as returned by ``tier_oracle``)."""
    got = _by_bucket(got)
    if got.index.has_duplicates:
        return ["stream: a bucket was emitted twice"]
    missing = got.index.difference(minute.index)
    if len(missing):
        return [f"stream: {len(missing)} emitted buckets absent from the batch tier"]
    return _differences(got, minute.loc[got.index], "stream")


def check_scrape(body: str, want_count: int) -> list[str]:
    """The exposition's request_count equals the turns in the window."""
    for line in body.splitlines():
        if line.startswith("request_count "):
            got = float(line.split()[1])
            if got == want_count:
                return []
            return [f"scrape: request_count {got:g} != {want_count}"]
    return ["scrape: no request_count gauge"]


def run_query_oracle(sql: str, data_dir: str, tables) -> pd.DataFrame:
    """A ``queries.ORACLES`` statement over the given parquet tables."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return con.sql(sql).df()
    finally:
        con.close()
