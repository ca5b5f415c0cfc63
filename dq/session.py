"""SparkSession factory with scale-oriented defaults.

Replaces the reference's PyHive/Thrift connection layer
(``core/connection.py:44-68`` in /root/reference) — there is no connection
pool to manage; the session IS the engine. Defaults are chosen for the
sandbox (single-JVM local mode) but every knob is the one you would set on
a real multi-executor cluster:

- AQE on (runtime coalesce, skew-join splitting) — the skew story for
  zipf-skewed web domains.
- Arrow on — all pandas UDFs ride vectorized Arrow batches.
- Session timezone pinned UTC — the reference's freshness semantics are
  wall-clock-date sensitive (``core/quality_checks.py:734-735``); we pin TZ
  and inject run_date instead.
- ANSI off — hash/modulo arithmetic in dedup signatures must wrap, not
  throw (Spark 4 defaults ANSI on).
- shuffle.partitions sized to cores locally; on a real cluster set it to
  2-3x total executor cores or rely on AQE coalescing.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half the machine's physical RAM, in whole GB (at least 1): local
    mode runs the executors inside the driver JVM, and the other half
    stays free for the pandas-UDF Python workers and the page cache."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "dq",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the sandbox)
    — but ONLY when the process was not launched by spark-submit. Under
    spark-submit the py4j gateway JVM already exists (marked by
    ``PYSPARK_GATEWAY_PORT`` in the environment) and carries the
    ``--master`` the operator chose (YARN/K8s/standalone); forcing
    ``.master()`` here would silently override it back to local mode, so
    we leave it untouched unless the caller passed one explicitly.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        master = f"local[{cpus}]"

    # Everything below is a DEFAULT, not a mandate: builder.config()
    # values override spark-submit --conf at getOrCreate, so under
    # spark-submit we read the JVM-side conf first and only fill the
    # holes — an operator's `--conf spark.sql.shuffle.partitions=2000`
    # on a 1000-executor cluster must win over the sandbox's 32.
    # Explicit function arguments (shuffle_partitions, extra_conf)
    # still override everything: the caller asked for them by name.
    existing: dict[str, str] = {}
    if submitted:
        # SparkConf(loadDefaults) only reads the submitted --conf values
        # (JVM system properties) once the py4j gateway is connected;
        # before that it silently degrades to an EMPTY python-side dict.
        # Under spark-submit the gateway JVM already exists, so
        # connecting is cheap and side-effect-free. Both the env marker
        # (PYSPARK_GATEWAY_PORT) and _ensure_initialized are PySpark
        # internals — verified against pyspark 4.1.x and covered by
        # tests/test_spark_submit.py where spark-submit is on PATH. If
        # a future PySpark changes either, degrade with a loud warning
        # instead of crashing: the cost is that library DEFAULTS may
        # then shadow operator --conf values (builder.config wins at
        # getOrCreate), which the warning names explicitly.
        from pyspark import SparkConf, SparkContext
        try:
            SparkContext._ensure_initialized()
            existing = dict(SparkConf(loadDefaults=True).getAll())
        except Exception as exc:  # noqa: BLE001 — private-API drift
            import warnings
            warnings.warn(
                "dq.session: could not read spark-submit --conf values "
                f"({exc!r}); library defaults may override operator "
                "--conf settings. Pass extra_conf to restore precedence.",
                RuntimeWarning, stacklevel=2)

    defaults = {
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.ansi.enabled": "false",
        "spark.driver.memory": os.environ.get("DQ_DRIVER_MEM",
                                              default_driver_memory()),
        # throughput GC: the allocation-heavy string stages (tokenize/
        # normalize) measured ~1.8x faster at 32 threads under
        # ParallelGC than default G1 (and G1 showed multi-10s full-GC
        # stalls under sustained allocation); for a batch engine,
        # throughput collector > pause-target collector
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.ui.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "134217728",
        # managed-table warehouse for AuditStore catalog mode (on a real
        # cluster this is the Iceberg catalog's warehouse location)
        "spark.sql.warehouse.dir":
            os.environ.get("DQ_WAREHOUSE", "/tmp/dq_warehouse"),
    }
    forced: dict[str, str] = {}
    if shuffle_partitions is not None:
        forced["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    forced.update(extra_conf or {})

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    builder = builder.appName(app_name)
    for k, v in defaults.items():
        if k not in existing:
            builder = builder.config(k, v)
    for k, v in forced.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# Confs the query catalog pins on the session it is given (see
# dq.queries._t — the values are part of the catalog's semantics and
# are read lazily at ACTION time, so they cannot be scoped per-query).
_CATALOG_CONFS = ("spark.sql.ansi.enabled", "spark.sql.session.timeZone")


@contextmanager
def catalog_session(spark: SparkSession):
    """Save/restore wrapper for hosts embedding catalog queries in a
    session whose ANSI mode or timezone they depend on.

    The catalog's session-mutation contract (dq.queries._t) deliberately
    leaves ``ansi.enabled=false`` + UTC set — correct for the driver and
    bench, silent semantic drift for an ANSI-on host. Usage::

        with catalog_session(spark):
            df = QUERIES["freshness"](spark, sf_dir)
            rows = df.collect()        # ACTIONS must run inside too —
                                       # lazy frames read confs at
                                       # action time, not build time

    On exit the two confs are re-pinned to their entry-time EFFECTIVE
    values. (``spark.conf.get(k, None)`` returns the engine's effective
    default even for a conf never explicitly set — so exit always sets
    the conf explicitly rather than unsetting it; the observable
    semantics are identical, the conf just shows as set. ADVICE r4.)"""
    saved = {k: spark.conf.get(k, None) for k in _CATALOG_CONFS}
    try:
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:       # unreachable for these two confs; kept
                spark.conf.unset(k)   # for safety if the tuple grows
            else:
                spark.conf.set(k, v)
