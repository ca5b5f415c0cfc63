"""The table-level quality checks — single-pass, partition-parallel.

Re-expresses the reference's six checks (``core/quality_checks.py``, see
SURVEY.md §2.10) with identical pass/fail semantics, but computed in ONE
fused ``agg()`` over the DataFrame instead of six GE validator passes over
a driver-materialized pandas frame (the reference rescans per check,
``quality_checks.py:1183-1214``). At 100 TB this is the difference between
one distributed scan and six.

Checks and their exact contracts (reference file:line):

- null_columns_check  (completeness, :414-514): fail iff ≥1 column is
  100% NULL, 100% empty-string, or 100% null-or-empty. Sub-1%-non-null
  columns that are not FULLY null/empty do not fail.
- row_count_check     (completeness, :627-700): row_count >= min_rows,
  min from the dynamic trend threshold (dq.thresholds) or manual 2.
- schema_presence_check (consistency, :186-248): no missing expected
  columns, case-insensitive; extra columns allowed.
- schema_types_check  (consistency, :250-412): per expected column
  present: int ⇐ int-class, or float-class with all-whole values;
  float ⇐ any numeric; string ⇐ string-class; bool ⇐ bool-class or
  numeric values ⊆ {0,1}; datetime ⇐ datetime-class, numeric (pandas
  epoch-parse semantics), or string with all non-null values parseable;
  other classes ⇒ existence only. All-null column ⇒ vacuous pass.
- date_insertion_freshness_check (timeliness, :702-828): pass iff
  max(to_date(date_insertion)) == run_date - 1 day. Missing column /
  empty table / no parseable dates ⇒ fail. ``run_date`` is injected for
  determinism (the reference reads the wall clock, :734-735).
- row_uniqueness_check (uniqueness, :830-921): pass iff zero fully
  duplicated rows; empty table passes.
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dq.schemas import normalize_type, spark_type_class
from dq.thresholds import Threshold

DATE_COLUMN = "date_insertion"


def _col_key(name: str) -> str:
    return name.lower()


def collect_table_metrics(df: DataFrame, expected_schema: dict[str, str] | None = None) -> dict[str, Any]:
    """ONE aggregation pass computing every metric the checks need.

    Returns a plain dict: total rows, per-column null/empty counts, the
    value-dependent type predicates (whole-number / bool-domain /
    datetime-parseable), max(date_insertion) as a date, and the exact
    distinct-row count.
    """
    expected_schema = expected_schema or {}
    actual_types = {f.name.lower(): f.dataType for f in df.schema.fields}
    exprs: list = [F.count(F.lit(1)).alias("__total")]

    for f in df.schema.fields:
        c, cls = f.name, spark_type_class(f.dataType)
        col = F.col(c)
        exprs.append(F.sum(col.isNull().cast("long")).alias(f"null__{c}"))
        if cls == "string":
            exprs.append(
                F.sum((col.isNotNull() & (F.trim(col) == "")).cast("long"))
                .alias(f"empty__{c}"))

    for name, declared in expected_schema.items():
        key = _col_key(name)
        if key not in actual_types:
            continue
        want = normalize_type(declared)
        have = spark_type_class(actual_types[key])
        col = F.col(key)
        if want == "int" and have == "float":
            exprs.append(
                F.min(F.when(col.isNotNull(),
                             (col == F.floor(col)).cast("int")))
                .alias(f"whole__{key}"))
        elif want == "bool" and have in ("int", "float"):
            exprs.append(
                F.min(F.when(col.isNotNull(), col.isin(0, 1).cast("int")))
                .alias(f"booldom__{key}"))
        elif want == "datetime" and have == "string":
            parsed = F.coalesce(F.try_to_timestamp(col),
                                F.try_to_date(col).cast("timestamp"))
            exprs.append(
                F.min(F.when(col.isNotNull(), parsed.isNotNull().cast("int")))
                .alias(f"dtparse__{key}"))

    cols_lower = [f.name for f in df.schema.fields]
    if DATE_COLUMN in [c.lower() for c in cols_lower]:
        dc = F.col(DATE_COLUMN)
        if spark_type_class(
                dict((f.name.lower(), f.dataType) for f in df.schema.fields)[DATE_COLUMN]
        ) == "string":
            dc = F.coalesce(F.try_to_timestamp(dc),
                            F.try_to_date(dc).cast("timestamp"))
        exprs.append(F.max(F.to_date(dc)).alias("__max_date"))
        exprs.append(F.sum(dc.isNotNull().cast("long")).alias("__valid_dates"))

    exprs.append(
        F.count_distinct(F.struct(*[F.col(c) for c in df.columns]))
        .alias("__distinct"))

    row = df.agg(*exprs).collect()[0].asDict()
    return row


def _result(test_name: str, database: str, table: str, passed: bool,
            details: str, dimension: str, **extra: Any) -> dict[str, Any]:
    out = {
        "test_name": test_name, "database": database, "table": table,
        "partition": None, "passed": bool(passed), "details": details,
        "dimension": dimension,
    }
    out.update(extra)
    return out


def null_columns_check(m: dict, df: DataFrame, database: str,
                       table: str) -> dict[str, Any]:
    total = m["__total"]
    if total == 0:
        return _result("null_columns_check", database, table, True,
                       "Table is empty - no null-only columns to check",
                       "completeness", null_columns=[])
    bad = []
    for f in df.schema.fields:
        nulls = m.get(f"null__{f.name}", 0) or 0
        empties = m.get(f"empty__{f.name}", 0) or 0
        if nulls == total:
            bad.append({"column": f.name, "issue": "all_null"})
        elif empties == total:
            bad.append({"column": f.name, "issue": "all_empty_strings"})
        elif nulls + empties == total:
            bad.append({"column": f.name, "issue": "all_null_or_empty"})
    passed = not bad
    details = ("No columns with all NULL or empty values found" if passed else
               f"Found {len(bad)} columns with all NULL or empty values: "
               + ", ".join(b["column"] for b in bad))
    return _result("null_columns_check", database, table, passed,
                   details, "completeness", null_columns=bad, total_rows=total)


def row_count_check(m: dict, database: str, table: str,
                    threshold: Threshold) -> dict[str, Any]:
    rc = m["__total"]
    passed = rc >= threshold.min_rows
    suffix = (" based on increment trend"
              if threshold.method == "increment" else "")
    return _result(
        "row_count_check", database, table, passed,
        f"Table has {rc} rows (minimum: {threshold.min_rows}{suffix})",
        "completeness", actual_row_count=rc,
        minimum_required=threshold.min_rows,
        calculation_method=threshold.method)


def schema_presence_check(df: DataFrame, expected_schema: dict[str, str],
                          database: str, table: str) -> dict[str, Any]:
    actual = {c.lower() for c in df.columns}
    expected = {c.lower() for c in expected_schema}
    missing = sorted(expected - actual)
    extra = sorted(actual - expected)
    passed = not missing
    details = ("All expected columns present" if passed else
               f"Missing columns: {', '.join(missing)}")
    return _result("schema_presence_check", database, table,
                   passed, details, "consistency",
                   missing_columns=missing, extra_columns=extra)


def schema_types_check(m: dict, df: DataFrame, expected_schema: dict[str, str],
                       database: str, table: str) -> dict[str, Any]:
    total = m["__total"]
    actual_types = {f.name.lower(): f.dataType for f in df.schema.fields}
    mismatches = []
    checked = 0
    for name, declared in expected_schema.items():
        key = _col_key(name)
        if key not in actual_types:
            continue                      # presence check owns missing cols
        checked += 1
        nulls = m.get(f"null__{key}", 0) or 0
        if total == 0 or nulls == total:
            continue                      # all-null column: vacuous pass
        want = normalize_type(declared)
        have = spark_type_class(actual_types[key])
        ok = True
        if want == "int":
            if have == "int":
                ok = True
            elif have == "float":
                ok = (m.get(f"whole__{key}") or 0) == 1
            else:
                ok = False
        elif want == "float":
            ok = have in ("int", "float")
        elif want == "string":
            ok = have == "string"
        elif want == "bool":
            if have == "bool":
                ok = True
            elif have in ("int", "float"):
                ok = (m.get(f"booldom__{key}") or 0) == 1
            else:
                ok = False
        elif want == "datetime":
            if have in ("datetime", "int", "float"):
                ok = True                 # numeric: pandas epoch-parse passes
            elif have == "string":
                ok = (m.get(f"dtparse__{key}") or 0) == 1
            else:
                ok = False
        else:
            ok = True                     # binary/array/map/struct: existence
        if not ok:
            mismatches.append({
                "column": key, "expected_type": declared,
                "expected_normalized": want, "actual_normalized": have,
            })
    passed = not mismatches
    return _result("schema_types_check", database, table, passed,
                   f"Type mismatches found: {len(mismatches)}", "consistency",
                   type_mismatches=mismatches, total_columns_checked=checked)


def freshness_check(m: dict, df: DataFrame, database: str, table: str,
                    run_date: dt.date) -> dict[str, Any]:
    name = "date_insertion_freshness_check"
    yesterday = run_date - dt.timedelta(days=1)
    if DATE_COLUMN not in [c.lower() for c in df.columns]:
        return _result(name, database, table, False,
                       f"Column '{DATE_COLUMN}' not found in table",
                       "timeliness", latest_date_found=None,
                       expected_date=None)
    if m["__total"] == 0:
        return _result(name, database, table, False,
                       "Table is empty - no date_insertion values to check",
                       "timeliness", latest_date_found=None,
                       expected_date=yesterday.isoformat())
    if (m.get("__valid_dates") or 0) == 0 or m.get("__max_date") is None:
        return _result(name, database, table, False,
                       f"No valid dates found in '{DATE_COLUMN}' column",
                       "timeliness", latest_date_found=None,
                       expected_date=yesterday.isoformat())
    latest: dt.date = m["__max_date"]
    passed = latest == yesterday
    diff = (latest - yesterday).days
    desc = ("matches expected date" if passed else
            f"{abs(diff)} day(s) {'ahead of' if diff > 0 else 'behind'} expected")
    return _result(name, database, table, passed,
                   f"Latest date {latest.isoformat()} {desc}", "timeliness",
                   latest_date_found=latest.isoformat(),
                   expected_date=yesterday.isoformat(),
                   date_difference_days=diff)


def row_uniqueness_check(m: dict, database: str,
                         table: str) -> dict[str, Any]:
    total = m["__total"]
    if total == 0:
        return _result("row_uniqueness_check", database, table,
                       True, "Table is empty - no duplicates to check",
                       "uniqueness", total_rows=0, unique_rows=0,
                       duplicate_rows=0, duplicate_percentage=0.0)
    unique = m["__distinct"]
    dups = total - unique
    pct = dups / total * 100
    passed = dups == 0
    details = (f"No duplicate rows found - all {total:,} rows are unique"
               if passed else
               f"Found {dups:,} duplicate rows ({pct:.2f}% of total)")
    return _result("row_uniqueness_check", database, table, passed,
                   details, "uniqueness", total_rows=total, unique_rows=unique,
                   duplicate_rows=dups, duplicate_percentage=pct)


def run_all_checks(
    df: DataFrame,
    database: str,
    table: str,
    expected_schema: dict[str, str],
    run_date: dt.date,
    threshold: Threshold | None = None,
    environment: str = "DEV",
) -> list[dict[str, Any]]:
    """All checks for one table from ONE metrics pass.

    Mirrors ``run_all_quality_checks`` (reference :1156-1240) including the
    empty-frame short-circuit that returns [] when the table has no rows
    AND no columns-worth checking — the reference returns [] for an empty
    fetch (:1172-1174); we interpret 'empty' as zero rows.
    """
    m = collect_table_metrics(df, expected_schema)
    if m["__total"] == 0:
        return []
    thr = threshold or Threshold(2, None, "manual")
    results = [
        null_columns_check(m, df, database, table),
        row_count_check(m, database, table, thr),
        schema_presence_check(df, expected_schema, database, table),
        schema_types_check(m, df, expected_schema, database, table),
        freshness_check(m, df, database, table, run_date),
        row_uniqueness_check(m, database, table),
    ]
    for r in results:
        r["environment"] = environment
    return results
