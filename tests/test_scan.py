"""The segmented scan (operators/scan.py): exact ranks and prefix sums
from persisted, range-sorted partitions, equal to the window spelling."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from shapefile_rs_spark.operators.scan import SCAN_COL, segmented_scan


def _shuffled_input(spark):
    """Unique ids over 3 strata (one NULL) with heavy score ties; the
    in-partition row order comes out of an 8-partition aggregation, so a
    recompute may deliver rows in a different order."""
    base = spark.range(0, 3000, numPartitions=4).select(
        (F.col("id") * 7919 % 3001).alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise(F.when(F.col("id") % 3 == 1, "en").otherwise("de"))
        .alias("lang"),
        (F.col("id") % 13).alias("q"),
    )
    return base.groupBy("doc_id", "lang", "q").count().drop("count").repartition(8)


@pytest.mark.parametrize("weight_col", [None, "q"])
def test_segmented_scan_survives_dropped_cache_blocks(spark, monkeypatch, weight_col):
    """Offsets are priced from the persisted frame; dropping every cached
    block before the scan runs forces a recompute of all partitions, which
    must come back with the same rows in the same order (same range
    exchange, id-total sort), so values still equal the window spelling.
    The scan runs inside the call (it checkpoints its result), so the
    blocks are dropped by a seam on ``localCheckpoint``, after pricing."""
    df = _shuffled_input(spark)
    jsc = spark.sparkContext._jsc
    jvm = spark._jvm
    master = jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    before = set(jsc.getPersistentRDDs().keys())
    checkpoint = type(df).localCheckpoint
    dropped = []

    def drop_blocks_then_checkpoint(self, *args, **kwargs):
        # the offsets are priced: drop every block of the RDDs the call
        # persisted, checking with the block manager that none is left
        rdds = {i: r for i, r in jsc.getPersistentRDDs().items() if i not in before}

        def cached_blocks():
            return sum(
                not master.getLocations(jvm.org.apache.spark.storage.RDDBlockId(i, p)).isEmpty()
                for i, r in rdds.items()
                for p in range(r.getNumPartitions())
            )

        assert cached_blocks() > 0
        for i in rdds:
            master.removeRdd(i, True)
        assert cached_blocks() == 0
        dropped.extend(rdds)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", drop_blocks_then_checkpoint)
    out = segmented_scan(df, "lang", [F.col("q").desc()], "doc_id", weight_col)
    monkeypatch.undo()
    assert dropped
    got = {(r["doc_id"], r[SCAN_COL]) for r in out.collect()}

    w = Window.partitionBy("lang").orderBy(F.col("q").desc(), F.col("doc_id").asc())
    if weight_col is None:
        val = F.row_number().over(w) - 1
    else:
        before_w = w.rowsBetween(Window.unboundedPreceding, -1)
        val = F.coalesce(F.sum("q").over(before_w), F.lit(0))
    want = {(r[0], r[1]) for r in df.select("doc_id", val).collect()}
    assert got == want and len(got) == df.count()

