"""Exact distributed running sums: the one sample-sort scan.

A per-stratum rank and a per-stratum prefix sum are the same computation —
an exclusive running sum of a per-row weight (1 per row for a rank) in a
total order.  The window spelling (``partitionBy(stratum)``) runs each
stratum through ONE task, which a 100 TB language stratum or a whole-corpus
epoch order cannot afford.  :func:`segmented_scan` computes the same values
with no single-task stratum; :func:`quality_prune`, :func:`token_prefix`
(and so ``budget_sample`` / ``seq_pack``), :func:`epoch_order` and
:func:`domain_rank` all rank through it, and :func:`route_mega_strata` is
the one rule the stratified operators use to choose it over their window.
"""

from __future__ import annotations

import math
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCAN_COL = "scan_before"


def route_mega_strata(
    df: DataFrame, strata_col: str, mega_strata_threshold: int | str | None
) -> Tuple[Optional[Dict], bool]:
    """``(counts, two_phase)`` for an operator's ``mega_strata_threshold``.

    ``None`` keeps the window plan without a routing job: ``(None, False)``.
    Otherwise one tiny collect yields the per-stratum row counts (strata
    are few by the operators' premise) and ``two_phase`` says whether any
    stratum exceeds the row budget.  ``"auto"`` sets the budget to total
    rows ÷ ``spark.sql.shuffle.partitions`` — a stratum above the average
    partition's fair share would serialize through one window task; any
    other string is rejected loudly.  NaN strata are rejected too: a float
    NaN key never matches itself in the scan's offset table (nan != nan),
    and a NULL and a NaN double both arrive as pandas NaN through Arrow, so
    the scan cannot keep them as the two distinct strata the window keeps."""
    if mega_strata_threshold is None:
        return None, False
    if isinstance(mega_strata_threshold, str) and mega_strata_threshold != "auto":
        raise ValueError(
            f"mega_strata_threshold {mega_strata_threshold!r}: "
            "expected an int row budget, 'auto', or None"
        )
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if any(isinstance(s, float) and math.isnan(s) for s in counts):
        raise ValueError(
            f"{strata_col} contains NaN strata: indistinguishable from NULL "
            "through the Arrow scan pass — filter or normalize NaN before "
            "setting mega_strata_threshold (the default window path keeps "
            "NaN as its own stratum)"
        )
    if mega_strata_threshold == "auto":
        shuffle_par = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        mega_strata_threshold = max(1, sum(counts.values()) // max(shuffle_par, 1))
    return counts, bool(counts) and max(counts.values()) > mega_strata_threshold


def segmented_scan(
    df: DataFrame,
    strata_col: Optional[str],
    order_keys: Sequence[Column],
    id_col: str,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """``df`` + ``scan_before`` (bigint): the EXCLUSIVE running sum of
    ``weight_col`` within ``strata_col`` in (stratum asc, ``*order_keys``,
    ``id_col`` asc) order.  Without ``weight_col`` every row weighs 1, so
    ``scan_before + 1`` is the row_number rank; NULL weights count 0.
    ``strata_col=None`` is one global stratum.

    The sample-sort shape, with no Window and no single-partition exchange:

    1. a range repartition on the full sort key (Spark samples the split
       points, so one huge stratum spans many partitions in global order),
       sorted within partitions and persisted;
    2. one eager action on the cache checks the id contract, and one tiny
       collect of per-(partition, stratum) weight sums — bounded by
       partitions × strata, never by data size — prices each partition's
       starting offset per stratum;
    3. one Arrow-batched ``mapInPandas`` over ONLY (id, stratum, weight)
       emits offset + in-partition exclusive running sum, joined back on
       the id.  Payload columns never enter pandas (a nullable int64 above
       2^53 would corrupt through float64).

    Why ``persist()`` is enough (no ``localCheckpoint`` of ``ordered``): the
    offsets from step 2 must describe the partitions step 3 reads.  A
    lost cached block recomputes through the same range exchange — its
    split points were sampled once, when the exchange was first executed
    — and is re-sorted on a key the unique id makes total, so every
    partition comes back with the same rows in the same order even when
    the input's own row order came out of a shuffle (pinned by a test
    that drops every cached block between pricing and scan).

    The scan owns that cache: it materializes the result with
    ``localCheckpoint(eager=True)`` (one job) and unpersists ``ordered``
    before returning, on every exit path.  The returned frame reads only
    the checkpoint, which is freed when it becomes unreachable, so no
    caller releases anything — and none can release the cache early and
    re-sample the range bounds under the priced offsets.  The trade-off:
    a lost checkpoint block fails the reading job instead of recomputing.

    Contracts: ``id_col`` must be unique and non-null — the values join
    back on it, so a null id would be dropped and a duplicate fanned out;
    both raise ``ValueError`` here."""
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    par = max(spark.sparkContext.defaultParallelism, df.rdd.getNumPartitions())
    sort_keys = [*order_keys, F.col(id_col).asc()]
    if strata_col is not None:
        sort_keys.insert(0, F.col(strata_col).asc())
    ordered = df.repartitionByRange(par, *sort_keys).sortWithinPartitions(*sort_keys).persist()
    try:
        # ONE action is both the eager materializer and the id check (a
        # separate count() would be a second full scan)
        chk = ordered.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count(id_col).alias("_nn"),
            F.count_distinct(id_col).alias("_nd"),
        ).collect()[0]
        if chk["_nn"] != chk["_n"] or chk["_nd"] != chk["_n"]:
            if chk["_nn"] != chk["_n"]:
                raise ValueError(
                    f"{id_col} has {chk['_n'] - chk['_nn']} null(s): the two-phase "
                    "scan joins back on the id, which must be non-null"
                )
            raise ValueError(
                f"{id_col} has duplicates ({chk['_nd']} distinct of {chk['_n']}): "
                "the two-phase scan joins back on the id, which must be unique"
            )
        stratum = F.lit(0) if strata_col is None else F.col(strata_col)
        weight = (
            F.lit(1) if weight_col is None else F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
        ).cast("long")
        slim = ordered.select(id_col, stratum.alias("_s"), weight.alias("_w"))
        offsets: dict = {}
        running: dict = {}
        for r in sorted(
            slim.groupBy(F.spark_partition_id().alias("_pid"), "_s")
            .agg(F.sum("_w").alias("_t"))
            .collect(),
            key=lambda r: r["_pid"],
        ):
            offsets[(r["_pid"], r["_s"])] = running.get(r["_s"], 0)
            running[r["_s"]] = running.get(r["_s"], 0) + r["_t"]

        def scan(batches):
            pid = TaskContext.get().partitionId()
            carried: dict = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                w = pdf["_w"].to_numpy(np.int64)
                codes, uniques = pd.factorize(pdf["_s"], use_na_sentinel=False)
                keys = [None if pd.isna(u) else u for u in uniques]
                base = np.asarray(
                    [offsets.get((pid, s), 0) + carried.get(s, 0) for s in keys],
                    dtype=np.int64,
                )
                incl = pd.Series(w).groupby(codes, sort=False).cumsum().to_numpy()
                sums = np.zeros(len(keys), dtype=np.int64)
                np.add.at(sums, codes, w)
                for s, t in zip(keys, sums):
                    carried[s] = carried.get(s, 0) + int(t)
                yield pd.DataFrame({id_col: pdf[id_col], SCAN_COL: base[codes] + incl - w})

        schema = StructType([ordered.schema[id_col], StructField(SCAN_COL, LongType(), False)])
        out = ordered.join(slim.mapInPandas(scan, schema=schema), id_col, "inner").select(
            *df.columns, SCAN_COL
        )
        return out.localCheckpoint(eager=True)
    finally:
        ordered.unpersist()
