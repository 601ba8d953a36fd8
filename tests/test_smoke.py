import os

from etl_wikipedia_updates_spark.tables import TABLE_NAMES, register_views

EXPECTED_MIN_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 100,
    "supplier": 10,
    "part": 100,
    "orders": 1000,
    "lineitem": 5000,
    "events": 500,
    "documents": 100,
    "embeddings": 100,
}


def test_all_tables_load(spark, sf_smoke):
    dfs = register_views(spark, sf_smoke)
    assert set(dfs) == set(TABLE_NAMES)
    for name, df in dfs.items():
        assert df.count() >= EXPECTED_MIN_ROWS[name], name


def test_embedding_schema(spark, sf_smoke):
    dfs = register_views(spark, sf_smoke)
    emb = dfs["embeddings"]
    field = {f.name: f.dataType.simpleString() for f in emb.schema.fields}
    assert field["embedding"] == "array<float>"


def test_load_table_repairs_foreign_session_conf(spark, sf_smoke):
    """The driver's gate calls queries() with a session the engine did
    not build; load_table must restore the correctness-critical confs
    (events.parquet is unreadable without nanosAsLong, and timestamp
    strings flip outside UTC)."""
    from etl_wikipedia_updates_spark.tables import load_table

    original_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        df = load_table(spark, sf_smoke, "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    finally:
        spark.conf.set("spark.sql.session.timeZone", original_tz)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_get_spark_builds_with_the_required_conf(spark):
    """The engine's own sessions carry the correctness confs from build
    time (the SparkConf the context started with), not only after the
    first load_table re-applies them."""
    from etl_wikipedia_updates_spark.session import ICU_CASE_MAPPINGS
    from etl_wikipedia_updates_spark.tables import REQUIRED_CONF

    conf = spark.sparkContext.getConf()
    assert {k: conf.get(k) for k in REQUIRED_CONF} == REQUIRED_CONF
    # per-Column call-site capture is off: it costs py4j round trips on
    # every Column call of a plan build
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # case mapping runs through the JDK (a session conf, set once the
    # JVM's default locale is known to have no special casing)
    assert spark.conf.get(ICU_CASE_MAPPINGS) == "false"


def test_spark_sql_frontend_matches_dataframe_plan(spark, sf_smoke):
    """The engine's tables register as temp views, so users can drive
    the same data through spark.sql(); a Spark-SQL twin of q4 must
    produce exactly the DataFrame plan's rows."""
    from etl_wikipedia_updates_spark.registry import REGISTRY
    from etl_wikipedia_updates_spark.tables import register_views

    register_views(spark, sf_smoke)
    sql_rows = sorted(
        tuple(r)
        for r in spark.sql(
            """
            SELECT c_mktsegment, COUNT(*) AS n_orders,
                   floor((CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE)
                              * 10000.0D + 0.5D) AS BIGINT)) AS DOUBLE)
                          / 10000.0D) * 100.0D + 0.5D) / 100.0D
                     AS sum_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
            """
        ).collect()
    )
    df_rows = sorted(
        tuple(r)
        for r in REGISTRY.queries["q4"].builder(spark, sf_smoke).collect()
    )
    assert sql_rows == df_rows


def test_int_env_knobs_fail_soft(monkeypatch):
    """The r15 advice fix: a malformed integer env knob must warn (by
    name) and fall back, never kill session construction with a bare
    int() traceback."""
    import warnings

    from etl_wikipedia_updates_spark.session import _int_env

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "not-a-number")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _int_env("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32) == 32
    assert any("SPARK_GRAFT_SHUFFLE_PARTITIONS" in str(x.message) for x in w)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "48")
    assert _int_env("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32) == 48
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    assert _int_env("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32) == 32


def test_local_cpus_default_follows_the_host(monkeypatch):
    """local[N] defaults to the CPUs this process may run on;
    SPARK_GRAFT_CPUS overrides it, and a value below 1 warns and falls
    back like a malformed one."""
    import warnings

    from etl_wikipedia_updates_spark.session import local_cpus

    host = len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == host
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
    for bad in ("0", "-2"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert local_cpus() == host
        assert any(f"SPARK_GRAFT_CPUS={bad!r}" in str(x.message) for x in w)


def test_driver_memory_default_follows_the_host():
    """The default driver heap is half the host's physical memory,
    capped at 16g, so it never exceeds the machine it runs on."""
    from etl_wikipedia_updates_spark.session import driver_memory

    gib = 1 << 30
    assert driver_memory(15 * gib) == "7680m"
    assert driver_memory(8 * gib) == "4096m"
    assert driver_memory(32 * gib) == "16384m"
    assert driver_memory(256 * gib) == "16384m"
    assert driver_memory(None) == "16384m"
