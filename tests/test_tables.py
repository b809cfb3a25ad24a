"""Per-session reader-handle cache of ``sources.tables``."""

from pyspark.sql import functions as F

from polars_grouper_spark.sources import load_table

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_handle_cache_is_per_session(spark):
    """``newSession()`` shares the SparkContext but not the SQL conf: it
    gets handles bound to itself with the nanos reader conf set on it, and
    a cache hit re-applies that conf."""
    first = load_table(spark, "events")
    other = spark.newSession()
    ev = load_table(other, "events")
    assert ev is not first
    assert ev.sparkSession._jsparkSession.sessionUUID() == other._jsparkSession.sessionUUID()
    assert other.conf.get(NANOS_CONF) == "true"

    other.conf.set(NANOS_CONF, "false")
    assert load_table(other, "events") is ev
    assert other.conf.get(NANOS_CONF) == "true"
    assert ev.agg(F.count("ts")).collect()[0][0] == first.count()
    assert load_table(spark, "events").sparkSession._jsparkSession.sessionUUID() == (
        spark._jsparkSession.sessionUUID()
    )
