"""Session factory: what the engine relies on without setting it."""

from __future__ import annotations


def test_aqe_is_on_by_spark_default(spark):
    """build_session sets no AQE conf; Spark's defaults must keep adaptive
    execution, partition coalescing and skew-join splitting on."""
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ):
        assert spark.conf.get(key) == "true", key
