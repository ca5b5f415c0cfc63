"""Unit tests for the table-rule engine (SURVEY.md §2.10 semantics)."""

import datetime as dt

from dq.rules import run_all_checks, collect_table_metrics
from dq.schemas import normalize_type
from dq.thresholds import compute_thresholds

RUN_DATE = dt.date(2025, 10, 3)
YESTERDAY = dt.datetime(2025, 10, 2, 8, 30)

PERSONNES_SCHEMA = {
    "date_insertion": "timestamp", "nom": "string", "prenom": "string",
    "profession": "string", "date_de_naissance": "timestamp", "age": "int",
}


def _personnes(spark, rows):
    return spark.createDataFrame(
        rows,
        "date_insertion timestamp, nom string, prenom string, "
        "profession string, date_de_naissance timestamp, age double")


def _by_name(results):
    return {r["test_name"]: r for r in results}


def test_normalize_type():
    assert normalize_type("bigint") == "int"
    assert normalize_type("smallint") == "int"
    assert normalize_type("tinyint") == "int"
    assert normalize_type("decimal(12,2)") == "float"
    assert normalize_type("DOUBLE") == "float"
    assert normalize_type("timestamp") == "datetime"
    assert normalize_type("date") == "datetime"
    assert normalize_type("varchar(50)") == "string"
    assert normalize_type("boolean") == "bool"
    assert normalize_type("wibble") == "string"      # unknown → string
    assert normalize_type("binary") == "binary"
    assert normalize_type("array<string>") == "array"
    # reference quirk: substring checks run first, so array<int> → int
    assert normalize_type("array<int>") == "int"


def test_all_checks_pass_on_clean_table(spark):
    df = _personnes(spark, [
        (YESTERDAY, "dupont", "jean", "farmer", dt.datetime(1980, 1, 1), 45.0),
        (dt.datetime(2025, 10, 1), "martin", "anne", "doctor",
         dt.datetime(1990, 5, 5), 35.0),
        (dt.datetime(2025, 9, 30), "bernard", "luc", "writer",
         dt.datetime(1975, 3, 3), 50.0),
    ])
    res = _by_name(run_all_checks(df, "db", "personnes", PERSONNES_SCHEMA,
                                  RUN_DATE))
    assert all(r["passed"] for r in res.values()), res
    assert set(res) == {
        "null_columns_check", "row_count_check", "schema_presence_check",
        "schema_types_check", "date_insertion_freshness_check",
        "row_uniqueness_check"}


def test_null_columns_variants(spark):
    # profession 100% NULL → fail; prenom '' everywhere → fail
    df = _personnes(spark, [
        (YESTERDAY, "a", "", None, dt.datetime(1980, 1, 1), 1.0),
        (YESTERDAY, "b", "", None, dt.datetime(1980, 1, 1), 2.0),
    ])
    res = _by_name(run_all_checks(df, "db", "personnes", PERSONNES_SCHEMA,
                                  RUN_DATE))
    r = res["null_columns_check"]
    assert not r["passed"]
    issues = {b["column"]: b["issue"] for b in r["null_columns"]}
    assert issues["profession"] == "all_null"
    assert issues["prenom"] == "all_empty_strings"

    # mixed null + empty = all_null_or_empty
    df2 = _personnes(spark, [
        (YESTERDAY, "a", None, "x", dt.datetime(1980, 1, 1), 1.0),
        (YESTERDAY, "b", " ", "y", dt.datetime(1980, 1, 1), 2.0),
    ])
    r2 = _by_name(run_all_checks(df2, "db", "personnes", PERSONNES_SCHEMA,
                                 RUN_DATE))["null_columns_check"]
    assert not r2["passed"]
    assert {b["column"]: b["issue"] for b in r2["null_columns"]}["prenom"] \
        == "all_null_or_empty"

    # 1-of-2 null is NOT a failure
    df3 = _personnes(spark, [
        (YESTERDAY, "a", "x", None, dt.datetime(1980, 1, 1), 1.0),
        (YESTERDAY, "b", "y", "doc", dt.datetime(1980, 1, 1), 2.0),
    ])
    r3 = _by_name(run_all_checks(df3, "db", "personnes", PERSONNES_SCHEMA,
                                 RUN_DATE))["null_columns_check"]
    assert r3["passed"]


def test_schema_types_whole_number_semantics(spark):
    # age stored as double but whole-valued → int check PASSES
    df = _personnes(spark, [
        (YESTERDAY, "a", "b", "c", dt.datetime(1980, 1, 1), 45.0)])
    r = _by_name(run_all_checks(df, "db", "personnes", PERSONNES_SCHEMA,
                                RUN_DATE))["schema_types_check"]
    assert r["passed"], r

    # fractional age → FAILS
    df2 = _personnes(spark, [
        (YESTERDAY, "a", "b", "c", dt.datetime(1980, 1, 1), 45.5)])
    r2 = _by_name(run_all_checks(df2, "db", "personnes", PERSONNES_SCHEMA,
                                 RUN_DATE))["schema_types_check"]
    assert not r2["passed"]
    assert r2["type_mismatches"][0]["column"] == "age"

    # all-null age → vacuous pass
    df3 = _personnes(spark, [
        (YESTERDAY, "a", "b", "c", dt.datetime(1980, 1, 1), None)])
    r3 = _by_name(run_all_checks(df3, "db", "personnes", PERSONNES_SCHEMA,
                                 RUN_DATE))["schema_types_check"]
    assert r3["passed"]


def test_schema_types_bool_datetime_string(spark):
    schema = {"flag": "boolean", "when_str": "timestamp", "name": "string"}
    df = spark.createDataFrame(
        [(0, "2025-01-01 10:00:00", "x"), (1, "2025-02-02", "y")],
        "flag int, when_str string, name string")
    res = _by_name(run_all_checks(df, "db", "t", schema, RUN_DATE))
    assert res["schema_types_check"]["passed"], res["schema_types_check"]

    df2 = spark.createDataFrame(
        [(2, "not a date", 5)], "flag int, when_str string, name int")
    r2 = _by_name(run_all_checks(df2, "db", "t", schema,
                                 RUN_DATE))["schema_types_check"]
    assert not r2["passed"]
    bad = {mm["column"] for mm in r2["type_mismatches"]}
    assert bad == {"flag", "when_str", "name"}


def test_schema_presence(spark):
    df = spark.createDataFrame(
        [(YESTERDAY, "a", "b", "c", dt.datetime(1980, 1, 1), 1.0, "extra")],
        "date_insertion timestamp, nom string, prenom string, "
        "profession string, date_de_naissance timestamp, age double, "
        "extra_col string")
    r = _by_name(run_all_checks(df, "db", "personnes", PERSONNES_SCHEMA,
                                RUN_DATE))["schema_presence_check"]
    assert r["passed"]                      # extra columns allowed
    assert r["extra_columns"] == ["extra_col"]

    df2 = df.drop("profession")
    r2 = _by_name(run_all_checks(df2, "db", "personnes", PERSONNES_SCHEMA,
                                 RUN_DATE))["schema_presence_check"]
    assert not r2["passed"]
    assert r2["missing_columns"] == ["profession"]


def test_freshness(spark):
    stale = _personnes(spark, [
        (dt.datetime(2025, 9, 29), "a", "b", "c",
         dt.datetime(1980, 1, 1), 1.0)])
    r = _by_name(run_all_checks(stale, "db", "personnes", PERSONNES_SCHEMA,
                                RUN_DATE))["date_insertion_freshness_check"]
    assert not r["passed"]
    assert r["date_difference_days"] == -3

    nodate = spark.createDataFrame([("a",)], "nom string")
    r2 = _by_name(run_all_checks(nodate, "db", "t", {"nom": "string"},
                                 RUN_DATE))["date_insertion_freshness_check"]
    assert not r2["passed"]

    allnull = _personnes(spark, [(None, "a", "b", "c", None, 1.0)])
    r3 = _by_name(run_all_checks(allnull, "db", "personnes",
                                 PERSONNES_SCHEMA, RUN_DATE))[
        "date_insertion_freshness_check"]
    assert not r3["passed"]


def test_uniqueness(spark):
    df = _personnes(spark, [
        (YESTERDAY, "a", "b", "c", dt.datetime(1980, 1, 1), 1.0),
        (YESTERDAY, "a", "b", "c", dt.datetime(1980, 1, 1), 1.0),
        (YESTERDAY, "x", "y", "z", dt.datetime(1980, 1, 1), 2.0),
    ])
    r = _by_name(run_all_checks(df, "db", "personnes", PERSONNES_SCHEMA,
                                RUN_DATE))["row_uniqueness_check"]
    assert not r["passed"]
    assert r["duplicate_rows"] == 1
    assert r["unique_rows"] == 2


def test_empty_table_returns_no_results(spark):
    df = _personnes(spark, [])
    assert run_all_checks(df, "db", "personnes", PERSONNES_SCHEMA,
                          RUN_DATE) == []


def test_dynamic_threshold_math(spark):
    def hist(rows):
        return spark.createDataFrame(
            [("e%d" % i, dt.datetime(2025, 9, i + 1), "DEV", "db", "t", c)
             for i, c in enumerate(rows)],
            "execution_id string, execution_timestamp timestamp, "
            "environment string, database_name string, table_name string, "
            "row_count long")

    # steady growth: [100,120,140] → avg inc 20 → min=140+16, max=140+24
    thr = compute_thresholds(hist([100, 120, 140]))[("DEV", "db", "t")]
    assert thr.method == "increment"
    assert thr.min_rows == 156 and thr.max_rows == 164
    assert thr.latest_count == 140

    # single record → manual fallback min=2
    thr1 = compute_thresholds(hist([100]))[("DEV", "db", "t")]
    assert thr1.method == "manual" and thr1.min_rows == 2

    # collapsing series → clamp to 1: [100,20] avg=-80 → 20-64=-44 → 1
    thr2 = compute_thresholds(hist([100, 20]))[("DEV", "db", "t")]
    assert thr2.min_rows == 1

    # only the 10 most recent records count
    thr3 = compute_thresholds(hist(list(range(0, 1300, 100))))[("DEV", "db", "t")]
    assert thr3.historical_records == 10
    assert thr3.latest_count == 1200
    assert thr3.min_rows == 1200 + 80      # avg inc 100, min=latest+80

    # missing table → default manual
    from dq.thresholds import threshold_for
    assert threshold_for({}, "DEV", "db", "zzz").min_rows == 2


def test_single_pass_metrics(spark):
    """collect_table_metrics runs exactly one job and carries every metric."""
    df = _personnes(spark, [
        (YESTERDAY, "a", "b", None, dt.datetime(1980, 1, 1), 45.0),
        (YESTERDAY, "a", "b", None, dt.datetime(1980, 1, 1), 45.0),
    ])
    m = collect_table_metrics(df, PERSONNES_SCHEMA)
    assert m["__total"] == 2
    assert m["null__profession"] == 2
    assert m["__distinct"] == 1
    assert m["whole__age"] == 1
    assert m["__max_date"] == dt.date(2025, 10, 2)
