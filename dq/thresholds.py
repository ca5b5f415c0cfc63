"""Dynamic row-count thresholds from historical run state.

Reproduces the reference's trend math (``core/quality_checks.py:516-625``):
fetch the last ``HISTORY_LIMIT`` (10) history rows per (environment, database,
table) newest-first, reverse to oldest-first, take consecutive increments,
average them, and set

    min_rows = max(int(latest + avg_inc * (1 - tol)), 1)
    max_rows =     int(latest + avg_inc * (1 + tol))     # informational —
                                                         # the check gates
                                                         # on min only

with tol = 20% and a manual fallback ``min_rows = 2`` when fewer than two
history rows exist (``config/settings.py:124-131``).

Spark-first: instead of one Postgres query per table inside the check loop
(the reference opens a NEW connection per check, quality_checks.py:547-560),
we compute thresholds for ALL tables in one windowed pass over the history
DataFrame and collect the tiny per-table result to broadcast into the run.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HISTORY_LIMIT = 10
TOLERANCE_PCT = 20.0
MANUAL_MIN_ROWS = 2

KEY_COLS = ("environment", "database_name", "table_name")


@dataclass(frozen=True)
class Threshold:
    min_rows: int
    max_rows: int | None
    method: str                      # 'manual' | 'increment'
    average_increment: float | None = None
    latest_count: int | None = None
    historical_records: int = 0


def compute_thresholds(
    history: DataFrame | None,
) -> dict[tuple[str, str, str], Threshold]:
    """One windowed pass over the full history → per-table thresholds.

    ``history`` has ``dq.audit.ROW_COUNT_HISTORY_SCHEMA`` (FIXTURES.md §3).
    """
    if history is None:
        return {}

    w_recent = Window.partitionBy(*KEY_COLS).orderBy(
        F.desc("execution_timestamp"), F.desc("execution_id"))
    recent = (
        history
        .withColumn("_rn", F.row_number().over(w_recent))
        .filter(F.col("_rn") <= HISTORY_LIMIT)
    )
    w_time = Window.partitionBy(*KEY_COLS).orderBy(
        "execution_timestamp", "execution_id")
    agg = (
        recent
        .withColumn("_inc", F.col("row_count") - F.lag("row_count").over(w_time))
        .groupBy(*KEY_COLS)
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.avg("_inc").alias("avg_inc"),
            F.max_by("row_count", F.col("execution_timestamp")).alias("latest"),
        )
    )
    tol = TOLERANCE_PCT / 100.0
    out: dict[tuple[str, str, str], Threshold] = {}
    for r in agg.collect():
        key = (r["environment"], r["database_name"], r["table_name"])
        if r["n_records"] < 2:
            out[key] = Threshold(MANUAL_MIN_ROWS, None, "manual",
                                 historical_records=r["n_records"])
        else:
            avg_inc = float(r["avg_inc"])
            latest = int(r["latest"])
            out[key] = Threshold(
                min_rows=max(int(latest + avg_inc * (1 - tol)), 1),
                max_rows=int(latest + avg_inc * (1 + tol)),
                method="increment",
                average_increment=avg_inc,
                latest_count=latest,
                historical_records=r["n_records"],
            )
    return out


def threshold_for(
    thresholds: dict[tuple[str, str, str], Threshold],
    environment: str,
    database: str,
    table: str,
) -> Threshold:
    return thresholds.get((environment, database, table),
                          Threshold(MANUAL_MIN_ROWS, None, "manual"))
