"""SparkSession factory with the engine's scale-oriented defaults.

Defaults target the sandbox (local[N], 128 GiB single JVM) but every knob is
the one you'd set on a 1000-executor cluster: AQE on (runtime re-plan +
skew-join backstop), Arrow execution for pandas UDFs, explicit shuffle
partitioning, and generous Arrow batch sizes so vectorized decode UDFs get
real batches instead of driblets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "shapefile_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # match parallelism: local[N] → N shuffle partitions (cluster: 2-3×cores)
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # throughput GC: G1's pause targets cost ~15-20% on the string-heavy
        # synth/parse stages (measured at 32 threads); batch jobs prefer
        # ParallelGC (on a cluster: spark.executor.extraJavaOptions)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def widen(df: DataFrame) -> DataFrame:
    """The engine's one input re-split rule: ``df`` re-split round-robin
    to the session's ``defaultParallelism`` when it has fewer partitions
    than that, else ``df`` as it is.

    Callers are the CPU-heavy per-row map stages (page synthesis, shingle
    hashing, gram explode, media synthesis).  A small parquet file is one
    row group, which Spark cannot split below, so such a stage over it
    would run in one task while the other cores idle; the exchange moves
    only the input rows, before the expensive projection.  Row-preserving.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
