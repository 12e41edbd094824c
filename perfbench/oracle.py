"""Reference results for the stream workloads.

The expected view is a duckdb aggregation of exactly the events the
generator wrote, recomputed from the seed; the program's view is the
final ``KeyedUpsertSink.read`` snapshot. Every event the program lost,
double-counted or dropped as late counts as a failed operation."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

#: tumbling event-time window of the stream pipeline
WINDOW_MS = 10_000
KEYS = ["user_id", "window_start_ms"]


def expected_view(ev: dict[str, np.ndarray], stamps_ms: np.ndarray) -> pd.DataFrame:
    """Per (user, window) count and amount over the written events."""
    df = pd.DataFrame({
        "user_id": ev["user_id"].astype(np.int64),
        "event_time": stamps_ms.astype(np.int64) - ev["late_ms"].astype(np.int64),
        "amount": ev["amount"].astype(np.int64),
    })
    con = duckdb.connect()
    try:
        con.register("ev", df)
        return con.execute(
            f"""
            SELECT user_id,
                   event_time - event_time % {WINDOW_MS} AS window_start_ms,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(amount) AS BIGINT) AS amount
            FROM ev GROUP BY 1, 2
            """
        ).df()
    finally:
        con.close()


def sink_view(pdf: pd.DataFrame) -> pd.DataFrame:
    """The sink snapshot in the expected view's shape (epoch-ms windows)."""
    ws = pd.to_datetime(pdf["window_start"], utc=True)
    return pd.DataFrame({
        "user_id": pdf["user_id"].astype(np.int64),
        "window_start_ms": (ws.astype("int64") // 10**6).astype(np.int64),
        "n": pdf["n"].astype(np.int64),
        "amount": pdf["amount"].astype(np.int64),
    })


def check_stream(expected: pd.DataFrame, actual: pd.DataFrame, written: int,
                 rows_in: int, dropped: int) -> tuple[int, list[str]]:
    """``(failed_events, problems)``: events not faithfully reflected in
    the sink, and a line per kind of problem."""
    problems = []
    failed = 0
    if rows_in != written:
        problems.append(f"stream read {rows_in} rows but {written} were written")
        failed += abs(written - rows_in)
    if dropped:
        problems.append(f"{dropped} rows dropped by the watermark")
        failed += dropped
    m = expected.merge(actual, on=KEYS, how="outer", suffixes=("", "_got"),
                       indicator=True)
    missing = m["_merge"] == "left_only"
    extra = m["_merge"] == "right_only"
    both = m["_merge"] == "both"
    wrong = both & ((m["n"] != m["n_got"]) | (m["amount"] != m["amount_got"]))
    if missing.any():
        problems.append(f"{int(missing.sum())} expected rows missing from the sink")
    if extra.any():
        problems.append(f"{int(extra.sum())} sink rows not in the expected view")
    if wrong.any():
        problems.append(f"{int(wrong.sum())} sink rows with wrong count or amount")
    view_failed = int(
        m.loc[missing, "n"].sum()
        + m.loc[extra, "n_got"].sum()
        + m.loc[wrong, "n"].sum()
    )
    return min(max(failed, view_failed), written), problems
