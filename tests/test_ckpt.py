"""Lineage-break sizing policy (materialize_spark/ckpt.py): which breaks
are planned from Catalyst statistics and which keep the session's
settings."""

import contextlib

import pytest
from pyspark.sql import functions as F

from materialize_spark import ckpt
from materialize_spark.catalog import empty_relation

SHUFFLE = "spark.sql.shuffle.partitions"
BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture()
def scopes(monkeypatch):
    """The conf changes each lineage break planned under, in order."""
    seen = []
    scoped = ckpt._scoped_confs

    @contextlib.contextmanager
    def recording(spark, changes):
        seen.append(dict(changes))
        with scoped(spark, changes):
            yield

    monkeypatch.setattr(ckpt, "_scoped_confs", recording)
    return seen


def _agg(df):
    return df.groupBy("k").agg(F.sum("v").alias("v"))


def test_in_session_break_is_sized_from_statistics(spark, scopes):
    """A few in-session rows: one partition, broadcasts off."""
    assert int(spark.conf.get(SHUFFLE)) > 1
    t = empty_relation(spark, "k BIGINT, v BIGINT")
    rows = spark.sql("SELECT CAST(1 AS BIGINT) AS k, CAST(2 AS BIGINT) AS v")
    out = ckpt.lineage_break(_agg(t.unionByName(rows)))
    assert scopes[-1][SHUFFLE][0] == "1"
    assert scopes[-1][BROADCAST][0] == "-1"
    assert out.rdd.getNumPartitions() == 1
    assert out.collect() == [(1, 2)]
    ckpt.lineage_break(_agg(out))  # a checkpoint of session state
    assert scopes[-1][SHUFFLE][0] == "1"


def test_breaks_over_catalog_data_keep_session_settings(spark, scopes,
                                                        tmp_path):
    """A parquet scan's estimate is its compressed file size, not the
    decoded bytes the sizing counts, and a persisted table's estimate is
    the same until it is materialized. A break that reads either, a
    checkpoint of such a break, or any later break over that checkpoint
    (joined with in-session rows or not) keeps the session's shuffle
    partitions and broadcast threshold."""
    path = str(tmp_path / "kv.parquet")
    spark.createDataFrame([(i % 7, i) for i in range(200)],
                          "k BIGINT, v BIGINT").write.parquet(path)
    scan = spark.read.parquet(path)
    persisted = spark.read.parquet(path).persist()
    session_rows = spark.sql(
        "SELECT CAST(1 AS BIGINT) AS k, CAST(0 AS BIGINT) AS v")
    try:
        first = ckpt.lineage_break(_agg(scan))
        assert SHUFFLE not in scopes[-1] and BROADCAST not in scopes[-1]
        ckpt.lineage_break(_agg(persisted))
        assert SHUFFLE not in scopes[-1] and BROADCAST not in scopes[-1]
        second = ckpt.fresh_break(_agg(first.unionByName(session_rows)))
        assert SHUFFLE not in scopes[-1] and BROADCAST not in scopes[-1]
        third = ckpt.lineage_break(
            second.join(session_rows.withColumnRenamed("v", "w"), "k"))
        assert SHUFFLE not in scopes[-1] and BROADCAST not in scopes[-1]
        assert sorted(second.collect()) == sorted(_agg(scan).collect())
        assert third.collect() == [(1, sum(range(1, 200, 7)), 0)]
    finally:
        persisted.unpersist()
