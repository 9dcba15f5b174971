"""plans/observed_counts.py: a named row count is taken only from a copy
that the executed plan proves was read in full."""

import pytest
from pyspark.sql import functions as F

from invoice_extraction_spark.plans.observed_counts import ObservedCounts


def _observed(df, name):
    return df.observe(name, F.count(F.lit(1)).alias("n"))


@pytest.fixture
def sort_merge_joins(spark):
    keys = ["spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold"]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_full_read_counts_and_limit_does_not(spark):
    full = _observed(spark.range(0, 1000, 1, 4), "oc:full")
    cut = _observed(spark.range(0, 1000, 1, 4), "oc:cut")
    with ObservedCounts(spark) as seen:
        assert full.filter("id % 3 = 0").count() == 334
        assert len(cut.limit(5).collect()) == 5
    assert seen.get("oc:full") == 1000
    assert seen.get("oc:cut") is None  # a limit stops reading early
    assert seen.get("oc:never") is None


def test_semi_join_copy_is_not_trusted_anti_join_copy_is(spark, sort_merge_joins, tmp_path):
    """Under a sort-merge semi join the observed left side is pulled only
    up to the right side's last key; the anti join reads all of it."""
    src = str(tmp_path / "ids")
    spark.range(0, 2000, 1, 4).write.parquet(src)
    probe = spark.range(0, 20).withColumnRenamed("id", "k")
    left = spark.read.parquet(src).repartition(4, "id").sortWithinPartitions("id")
    semi = _observed(left, "oc:semi")
    anti = _observed(left, "oc:anti")
    with ObservedCounts(spark) as seen:
        assert semi.join(probe, semi.id == probe.k, "left_semi").count() == 20
        assert anti.join(probe, anti.id == probe.k, "left_anti").count() == 1980
    assert seen.get("oc:semi") is None
    assert seen.get("oc:anti") == 2000


def test_listener_is_removed(spark):
    listeners = spark._jsparkSession.listenerManager()
    before = len(listeners.listListeners())
    with ObservedCounts(spark):
        assert len(listeners.listListeners()) == before + 1
    assert len(listeners.listListeners()) == before


def test_listener_is_removed_beside_other_listeners(spark):
    """Removing the listener compares it with every other listener on the
    bus (here: the one Spark adds for ``Observation`` objects)."""
    from pyspark.sql import Observation

    obs = Observation("oc:other")
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get["n"] == 3
    test_listener_is_removed(spark)


def test_action_jobs_are_tagged(spark):
    """The re-run check reads the stages of the jobs the action ran, so
    those jobs must carry the block's tag."""
    seen = ObservedCounts(spark)
    with seen:
        assert spark.range(0, 100, 1, 4).repartition(2).count() == 100
    assert seen.error is None
    assert len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForTag(seen._tag)) >= 1
