"""Schema helpers, session confs and the catalog contract — thin public
API surface over the tested internals; exercised here so none of it
drifts dead."""

from dq import multimodal, schemas


def test_get_schema_returns_copy(spark):
    s = schemas.get_schema("webpages")
    assert s, "webpages schema must be declared"
    s["injected"] = "string"
    assert "injected" not in schemas.get_schema("webpages")
    assert schemas.get_schema("no_such_table") == {}


def test_media_table_schema_shape(spark):
    st = multimodal.media_table_schema()
    assert [f.name for f in st.fields] == ["media_id", "payload", "meta"]
    df = spark.createDataFrame([], st)   # instantiable
    assert df.schema == st


def test_catalog_session_restores_confs(spark):
    """Embedding a catalog query in an ANSI-on session: catalog_session
    restores both pinned confs on exit, and ANSI semantics are really
    back (a bad cast throws again)."""
    from dq.queries import QUERIES
    from dq.session import catalog_session

    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with catalog_session(spark):
            df = QUERIES["daily_row_counts"](spark, "/root/testdata/sf0.001")
            assert df.count() > 0
            # inside: the catalog pinned its semantics
            assert spark.conf.get("spark.sql.ansi.enabled") == "false"
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") \
            == "America/New_York"
        try:
            spark.sql("SELECT CAST('not a number' AS INT)").collect()
            raised = False
        except Exception:
            raised = True
        assert raised, "ANSI cast semantics not actually restored"
    finally:
        # shared test session: put the suite's defaults back
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_driver_heap_fits_the_machine(spark):
    """The default driver heap is half the physical RAM (DQ_DRIVER_MEM
    overrides it), and the test session's JVM really launched with it."""
    import os

    from dq.session import default_driver_memory

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory()[:-1]) * 2**30 <= max(phys // 2, 2**30)
    want = os.environ.get("DQ_DRIVER_MEM", default_driver_memory())
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime() \
                    .maxMemory()
    assert max_heap < phys


def test_catalog_queries_and_oracles_pair_up():
    """``__spark_entry__`` pairs every catalog query with an exact
    oracle. scripts/parity.py downgrades a query without one to a
    rows-only check, so a query that loses its oracle (or an oracle
    whose query is gone) must fail here instead of passing there."""
    import __spark_entry__ as entry
    from dq.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES), set(ORACLES) - set(QUERIES)
    oracles = entry.oracle_sql()
    assert set(QUERIES) - set(oracles) == {"quality_filter_pipeline"}
    assert set(oracles) - set(ORACLES) == {"embedding_ivf_topk"}
    assert set(oracles) <= set(QUERIES)
