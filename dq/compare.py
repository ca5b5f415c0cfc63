"""Cross-environment row-count comparison (DEV ≤ PROD).

Reproduces the reference's ``run_environment_row_count_comparisons``
(``main.py:214-268``): for each (database, table) present in both
environments, pass iff ``dev_count <= prod_count``; the comparison is
SKIPPED when either side is 0 (``main.py:235-237``); ``difference =
dev_count - prod_count``.

The reference does this with Python dict lookups; here both sides are tiny
aggregate frames, so the join is a broadcast hash join — and the same
function generalizes to run-over-run snapshot comparison on the audit
table at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compare_row_counts(counts: DataFrame) -> DataFrame:
    """counts: (environment, database, table, row_count) → comparison rows.

    Output: database, table, dev_count, prod_count, difference, passed —
    only for pairs where both sides exist and neither is zero.
    """
    dev = (counts.filter(F.col("environment") == "DEV")
           .select("database", "table",
                   F.col("row_count").alias("dev_count")))
    prod = (counts.filter(F.col("environment") == "PROD")
            .select("database", "table",
                    F.col("row_count").alias("prod_count")))
    return (
        dev.join(F.broadcast(prod), ["database", "table"], "inner")
        .filter((F.col("dev_count") != 0) & (F.col("prod_count") != 0))
        .withColumn("difference", F.col("dev_count") - F.col("prod_count"))
        .withColumn("passed", F.col("dev_count") <= F.col("prod_count"))
        .withColumn("test_name", F.lit("row_count_comparison"))
        .withColumn("dimension", F.lit("consistency"))
    )
