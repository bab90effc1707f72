"""Salted-aggregation equivalence (operators/skew.py).

The invariant: salting changes the physical distribution only — every
salted result must equal its unsalted counterpart exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tally_database_loader_spark.operators.skew import salted_aggregate
from tests.conftest import SF_CORRECTNESS


def _events(spark):
    from tally_database_loader_spark.sources.catalog import load_table
    return load_table(spark, SF_CORRECTNESS, "events")


def test_salted_aggregate_equals_direct_groupby(spark):
    e = _events(spark)
    salted = salted_aggregate(
        e, keys=["event_type"],
        aggs={"n": ("count", "event_id"),
              "lo": ("min", "value"),
              "hi": ("max", "value"),
              "users": ("count_distinct", "user_id")},
        distinct_on="event_id", n_salt=16)
    direct = e.groupBy("event_type").agg(
        F.count("event_id").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.countDistinct("user_id").cast("int").alias("users"))
    assert salted.exceptAll(direct).isEmpty()
    assert direct.exceptAll(salted).isEmpty()


def test_salted_collect_set_equals_direct(spark):
    e = _events(spark).limit(500)
    salted = salted_aggregate(
        e, keys=["event_type"], aggs={"u": ("collect_set", "user_id")},
        distinct_on="event_id", n_salt=8) \
        .select("event_type", F.sort_array("u").alias("u"))
    direct = (e.groupBy("event_type").agg(F.collect_set("user_id").alias("u"))
               .select("event_type", F.sort_array("u").alias("u")))
    assert salted.exceptAll(direct).isEmpty()
    assert direct.exceptAll(salted).isEmpty()


def test_salted_aggregate_spreads_hot_key(spark):
    """Phase 1 must group on (key, salt): the hot key's rows occupy
    n_salt groups, not one."""
    e = _events(spark)
    from tally_database_loader_spark.operators.skew import salt_column
    n_groups = (e.withColumn("_salt", salt_column("event_id", 16))
                 .groupBy("event_type", "_salt").count()
                 .filter(F.col("event_type") == "click").count())
    assert n_groups == 16


def test_non_decomposable_aggregate_rejected(spark):
    e = _events(spark)
    with pytest.raises(ValueError, match="non-decomposable"):
        salted_aggregate(e, keys=["event_type"],
                         aggs={"m": ("median", "value")},
                         distinct_on="event_id")

