"""``get_spark`` against a live session: runtime confs apply, static
confs it cannot apply raise instead of being dropped."""

from __future__ import annotations

import pytest

from multi_attribute_join_search_with_mapreduce_spark.session import get_spark


def test_get_spark_refuses_static_conf_the_live_session_lacks(spark):
    """A live session keeps its launch-time static confs. Asking for an
    event log it was not launched with raises a ValueError that names
    the key; it used to return the session without one, so an event-log
    parser saw no jobs. A static key that matches the live value, and a
    runtime-modifiable key, are fine."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(ValueError, match="spark.eventLog.enabled"):
        get_spark(
            shuffle_partitions=int(parts),
            extra_conf={"spark.eventLog.enabled": "true"},
        )
    assert spark.sparkContext.getConf().get("spark.eventLog.enabled") != "true"
    same = get_spark(
        shuffle_partitions=int(parts),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.adaptive.enabled": "true",
        },
    )
    assert same is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def test_get_spark_launches_with_the_sized_codegen_cache(spark):
    """The suite's session was launched by ``get_spark``, with a codegen
    cache larger than Spark's default 100 classes, which one append
    plus search outgrows."""
    from multi_attribute_join_search_with_mapreduce_spark.session import (
        CODEGEN_CACHE_ENTRIES,
    )

    assert CODEGEN_CACHE_ENTRIES > 100
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.sparkContext.getConf().get(key) == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
