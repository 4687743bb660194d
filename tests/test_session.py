"""Session contract edge (session.py): the pinned SQL semantics every
oracle hash depends on, asserted on a ``get_spark()`` session."""

import pytest

from dragnet_spark.session import get_spark

LONG_MAX = 9223372036854775807


def test_get_spark_pins_utc_and_ansi(spark):
    # a host session with ANSI off (or another zone) is re-pinned by
    # get_spark(), not inherited
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        s = get_spark(app_name="dragnet_spark_tests", shuffle_partitions=parts)
        assert s.conf.get("spark.sql.ansi.enabled") == "true"
        assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_long_sum_overflow_raises_instead_of_wrapping(spark):
    df = spark.createDataFrame([(LONG_MAX - 5,), (10,)], "x long")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.selectExpr("sum(x)").collect()
