"""The segmented scan (operators/scan.py): exact ranks and prefix sums
from persisted, range-sorted partitions, equal to the window spelling."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from shapefile_rs_spark.operators.dedup import release_sig_caches
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
def test_segmented_scan_survives_dropped_cache_blocks(spark, weight_col):
    """Offsets are priced from the persisted frame; dropping every cached
    block before the scan runs forces a recompute of all partitions, which
    must come back with the same rows in the same order (same range
    exchange, id-total sort), so values still equal the window spelling."""
    df = _shuffled_input(spark)
    out = segmented_scan(df, "lang", [F.col("q").desc()], "doc_id", weight_col)
    # the offsets are priced: now drop every block of the scan's cached
    # RDD, checking with the block manager that none is left
    cache = (
        spark._jsparkSession.sharedState().cacheManager()
        .lookupCachedData(out._sig_caches[0]._jdf).get()
        .cachedRepresentation().cacheBuilder().cachedColumnBuffers()
    )
    rdd_id = cache.id()
    assert rdd_id in spark.sparkContext._jsc.getPersistentRDDs().keys()
    jvm = spark._jvm
    master = jvm.org.apache.spark.SparkEnv.get().blockManager().master()

    def cached_blocks():
        return sum(
            not master.getLocations(jvm.org.apache.spark.storage.RDDBlockId(rdd_id, i)).isEmpty()
            for i in range(cache.getNumPartitions())
        )

    assert cached_blocks() > 0
    master.removeRdd(rdd_id, True)
    assert cached_blocks() == 0
    got = {(r["doc_id"], r[SCAN_COL]) for r in out.collect()}
    release_sig_caches(out)

    w = Window.partitionBy("lang").orderBy(F.col("q").desc(), F.col("doc_id").asc())
    if weight_col is None:
        val = F.row_number().over(w) - 1
    else:
        before_w = w.rowsBetween(Window.unboundedPreceding, -1)
        val = F.coalesce(F.sum("q").over(before_w), F.lit(0))
    want = {(r[0], r[1]) for r in df.select("doc_id", val).collect()}
    assert got == want and len(got) == df.count()

