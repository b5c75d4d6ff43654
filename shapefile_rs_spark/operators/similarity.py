"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — exact brute-force cosine top-k.  The query set is
  small (collected driver-side, the same provably-small pattern as the
  polygon side of the PIP join); the embedding table is scanned ONCE by a
  ``mapInPandas`` stage that scores each Arrow batch with a single numpy
  matmul (B×d @ d×q) and emits only the per-batch top-k per query.  The
  global rank is then a window over ≤ k·q·n_batches rows — the N×q
  crossJoin+shuffle of the naive plan never materializes.  At 100 TB this
  is the canonical partial-aggregation shape: the full-table work is
  map-only, the shuffle is O(k·q·partitions).
* :func:`ivf_topk` — the scale path: a deterministic coarse quantizer
  (centroid set) partitions vectors into cells; queries probe only their
  own cell.  At 100 TB the vector table is written partitioned by
  ``centroid_id`` so a probe prunes to one partition (partition pruning on
  the scan); here the assignment carries the embedding through the same
  scan (no re-join) and candidates are scored by an Arrow-batched pandas
  UDF.

Outputs are rank-only (query_id, vec_id, rnk): float similarity values are
engine-rounding-sensitive, ranks of random embeddings are not — that is
what the DuckDB oracle pins.  numpy's pairwise-summation dot differs from
a sequential fold in the last ulp; rank order of distinct random vectors
is insensitive to that.

Expression-based :func:`dot_expr` / :func:`cosine_expr` remain exported for
oracle-twin spellings and non-hot-path uses (they are interpreted, not
codegen'd — measured in CLAUDE.md; keep them off the scan path).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .. import local

# centroid rows assign_centroids holds on the driver (its closure matrix):
# C×d×8 bytes, ≈ 33 MB at d=64 — d-wide rows, hence below DRIVER_ROWS
CLOSURE_MAX_CENTROIDS = 65_536


def dot_expr(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision (left-to-right fold, interpreted)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm2_expr(a: Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / F.sqrt(norm2_expr(a) * norm2_expr(b))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def cosine_pd(a: Column, b: Column) -> Column:
    """Row-wise cosine of two array columns as an Arrow-batched pandas UDF:
    one einsum per batch instead of an interpreted fold per row."""

    @F.pandas_udf("double")
    def _cos(sa: pd.Series, sb: pd.Series) -> pd.Series:
        A = np.vstack(sa.to_numpy()).astype(np.float64, copy=False)
        B = np.vstack(sb.to_numpy()).astype(np.float64, copy=False)
        num = np.einsum("ij,ij->i", A, B)
        with np.errstate(invalid="ignore", divide="ignore"):
            out = num / np.sqrt(
                np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
            )
        return pd.Series(out)

    return _cos(a, b)


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str, normalize: bool, limit=None):
    """Driver-side (id array, row matrix) of a provably-small frame, rows
    sorted by id so numpy first-max tie-breaks resolve to the lowest id.
    With ``limit`` set (0 allowed), returns ``(None, None)`` when the
    frame has more rows — :func:`..local.collect_upto`, one job that is
    the size probe AND the matrix fetch."""
    src = df.select(id_col, vec_col)
    rows = src.collect() if limit is None else local.collect_upto(src, limit)
    if rows is None:
        return None, None
    rows = sorted(rows, key=lambda r: r[0])
    ids = [r[0] for r in rows]
    M = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    if normalize:
        with np.errstate(invalid="ignore", divide="ignore"):
            M = M / np.sqrt((M * M).sum(axis=1))[:, None]
    return ids, M


def _cosine_topk_impl(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_id: str,
    vec_col: str,
    query_id: str,
    query_col: str,
    label_col: str = None,
    qlabels: list = None,
) -> DataFrame:
    """Shared exact-cosine top-k engine: per-Arrow-batch matmul + partial
    top-k (any global top-k row survives its batch's top-k under the
    same (cos desc, vec_id asc) order), k·q·partitions exchange, final
    rank window.  With ``label_col``/``qlabels`` set, query j only ranks
    corpus rows whose label is NON-NULL and differs from ``qlabels[j]``
    — matching SQL ``v.label <> q.q_label`` semantics, where a NULL
    corpus label compares to NULL and drops."""
    qids, Qn = _collect_matrix(queries, query_id, query_col, normalize=True)
    nq = len(qids)
    out_schema = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType),
            StructField(vec_id, vectors.schema[vec_id].dataType),
            StructField("_cos", DoubleType()),
        ]
    )
    in_cols = [vec_id, vec_col] + ([label_col] if label_col else [])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [query_id, vec_id, "_cos"]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            with np.errstate(invalid="ignore", divide="ignore"):
                Vn = V / np.sqrt((V * V).sum(axis=1))[:, None]
            S = Vn @ Qn.T  # B×q, one matmul per Arrow batch
            vids = pdf[vec_id].to_numpy()
            if label_col is not None:
                labels = pdf[label_col].to_numpy()
                label_ok = pd.notnull(labels)
            parts = []
            for j in range(nq):
                s = S[:, j]
                keep = ~np.isnan(s)  # zero-norm vectors can't rank
                if label_col is not None:
                    keep &= label_ok & (labels != qlabels[j])
                order = np.lexsort((vids[keep], -s[keep]))[:k]
                parts.append(
                    pd.DataFrame(
                        {
                            query_id: [qids[j]] * len(order),
                            vec_id: vids[keep][order],
                            "_cos": s[keep][order],
                        }
                    )
                )
            yield pd.concat(parts)[cols] if parts else pd.DataFrame(columns=cols)

    partials = vectors.select(*in_cols).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(), F.col(vec_id).asc())
    return (
        partials.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, vec_id, "rnk")
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "q_embedding",
) -> DataFrame:
    """(query_id, vec_id, rnk): exact top-k by cosine, ties → lower
    vec_id (scan-side partial top-k; see :func:`_cosine_topk_impl`)."""
    return _cosine_topk_impl(
        vectors, queries, k, vec_id, vec_col, query_id, query_col
    )


def cosine_topk_labeled(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id: str = "query_id",
    query_col: str = "q_embedding",
    query_label: str = "q_label",
) -> DataFrame:
    """Hard-negative mining: :func:`cosine_topk` under a label
    constraint — (query_id, vec_id, rnk) of the top-k most-similar
    vectors whose ``label_col`` DIFFERS from the query's
    ``query_label`` (the contrastive-training negative sampler: nearest
    wrong-class neighbours are the hardest negatives).

    Same scale shape as cosine_topk (one corpus scan, masked per-batch
    partial top-k — no per-label re-scan, no join); the mask runs inside
    the shared scoring closure.  NULL corpus labels never rank (the SQL
    ``<>`` NULL semantics of the oracle twin); a NULL QUERY label is an
    input error and raises loudly — SQL would silently return zero
    negatives for that query."""
    lab_rows = sorted(
        queries.select(query_id, query_label).collect(), key=lambda r: r[0]
    )
    if any(r[1] is None for r in lab_rows):
        bad = [r[0] for r in lab_rows if r[1] is None]
        raise ValueError(
            f"queries {bad[:3]} carry a NULL {query_label!r} — every "
            "comparison would be NULL and the query would get no negatives"
        )
    qlabels = [r[1] for r in lab_rows]
    return _cosine_topk_impl(
        vectors,
        queries,
        k,
        vec_id,
        vec_col,
        query_id,
        query_col,
        label_col=label_col,
        qlabels=qlabels,
    )


def hyperplane_buckets(
    vectors: DataFrame,
    planes: DataFrame,
    n_tables: int = 1,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    plane_id: str = "plane_id",
    plane_col: str = "p_embedding",
    nprobe: int = 1,
) -> DataFrame:
    """(_id, _tbl, _bucket): the hyperplane-LSH table/bucket frame
    :func:`embedding_neardup_pairs` self-joins on — the ONE spelling of
    that shuffle key, exposed so bucket-population telemetry (bench.py)
    audits the exact buckets the operator joins, not a reimplementation.
    Un-checkpointed: the pairing operator adds its own localCheckpoint for
    the two-sided consumption; telemetry reads it once.

    ``nprobe`` > 1 emits MULTI-PROBE rows: per table, the own bucket plus
    ``nprobe-1`` neighbor buckets, each flipping ONE sign bit in
    ascending |dot| (margin) order — the hyperplane the vector sits
    closest to is the most likely single misclassification, the
    margin-guided move of multi-probe LSH (Lv et al., VLDB'07,
    simplified to single-bit perturbations).  Ties in |dot| break by bit
    index, so the probe sequence is deterministic and oracle-expressible.
    Meant for the QUERY side of an asymmetric search: probing there
    raises recall with zero change to the corpus bucketing."""
    pids, P = _collect_matrix(planes, plane_id, plane_col, normalize=False)
    if n_tables < 1 or len(pids) % n_tables:
        raise ValueError(
            f"plane count {len(pids)} must divide evenly into n_tables={n_tables}"
        )
    p = len(pids) // n_tables
    if not 1 <= nprobe <= p + 1:
        raise ValueError(
            f"nprobe {nprobe} outside [1, planes_per_table+1={p + 1}]: each "
            "probe past the first flips one DISTINCT bit of the p-bit key"
        )
    weights = (1 << np.arange(p, dtype=np.int64))  # in-table plane i → bit i
    b_schema = StructType(
        [
            StructField("_id", vectors.schema[vec_id].dataType),
            StructField("_tbl", IntegerType()),
            StructField("_bucket", LongType()),
        ]
    )

    def bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            M = V @ P.T  # B×(L·p) margins; sign bit = M > 0
            ids = pdf[vec_id].to_numpy()
            frames = []
            for t in range(n_tables):
                Mt = M[:, t * p : (t + 1) * p]
                base = (Mt > 0) @ weights
                frames.append(
                    pd.DataFrame({"_id": ids, "_tbl": np.int32(t), "_bucket": base})
                )
                if nprobe > 1:
                    # stable argsort on |margin|: ties break by bit index,
                    # matching the oracle's (ABS(dot), bit) ordering
                    order = np.argsort(np.abs(Mt), axis=1, kind="stable")
                    for j in range(nprobe - 1):
                        frames.append(
                            pd.DataFrame(
                                {
                                    "_id": ids,
                                    "_tbl": np.int32(t),
                                    "_bucket": base ^ weights[order[:, j]],
                                }
                            )
                        )
            yield pd.concat(frames)

    return vectors.select(vec_id, vec_col).mapInPandas(bucket, schema=b_schema)


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    planes: DataFrame,
    k: int,
    n_tables: int = 1,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "q_embedding",
    plane_id: str = "plane_id",
    plane_col: str = "p_embedding",
    nprobe: int = 1,
) -> DataFrame:
    """(query_id, vec_id, rnk): approximate cosine top-k over the LSH
    candidate set — vectors sharing ≥1 hyperplane bucket with the query
    in ANY of the ``n_tables`` OR-amplified tables.

    ``nprobe`` is the second recall dial beside ``n_tables``: each query
    additionally probes ``nprobe-1`` neighbor buckets per table (one
    flipped sign bit, least-|margin| first — see
    :func:`hyperplane_buckets`).  Probing happens on the QUERY side only,
    so recall rises with NO change to the corpus bucket scan — the dial a
    100 TB deployment can turn per-request, while raising ``n_tables``
    means re-bucketing the corpus.  The third
    similarity-search mode beside :func:`cosine_topk` (exact, scans
    everything) and :func:`ivf_topk` (probes learned cells): bucketing
    needs no training pass, recall dials with L·p exactly as in
    :func:`embedding_neardup_pairs` (same bucket construction, same
    math), and may return FEWER than k rows when a query's buckets hold
    fewer candidates — the standard ANN recall trade.

    Scale shape: the 100 TB side is ONE map-only bucket scan (L int64
    rows per vector); the query side (tiny by contract) buckets the same
    way and BROADCASTS, so no corpus-side shuffle exists before the
    candidate distinct — whose input is only O(q · bucket population).
    Exact cosine then scores candidates only; undefined cosines
    (zero-norm) are dropped, the :func:`cosine_topk` convention."""
    vb = hyperplane_buckets(
        vectors, planes, n_tables=n_tables,
        vec_id=vec_id, vec_col=vec_col, plane_id=plane_id, plane_col=plane_col,
    )
    qb = hyperplane_buckets(
        queries, planes, n_tables=n_tables,
        vec_id=query_id, vec_col=query_col, plane_id=plane_id, plane_col=plane_col,
        nprobe=nprobe,
    )
    cands = (
        vb.select(F.col("_id").alias(vec_id), "_tbl", "_bucket")
        .join(
            F.broadcast(qb.select(F.col("_id").alias(query_id), "_tbl", "_bucket")),
            ["_tbl", "_bucket"],
        )
        .select(query_id, vec_id)
        .distinct()
    )
    ve = vectors.select(F.col(vec_id), _as_double(F.col(vec_col)).alias("_e"))
    qe = queries.select(F.col(query_id), _as_double(F.col(query_col)).alias("_q"))
    # candidates are O(q · bucket population) — broadcast them so the
    # corpus embedding fetch is a broadcast probe, not a corpus shuffle
    scored = (
        ve.join(F.broadcast(cands), vec_id)
        .join(F.broadcast(qe), query_id)
        .withColumn("_cos", cosine_pd(F.col("_e"), F.col("_q")))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("_cos").desc(), F.col(vec_id).asc()
    )
    # undefined cosines (zero-norm): the pandas UDF's NaN arrives as NULL
    # through Arrow, and desc is NULLS LAST — so dropping them AFTER the
    # window leaves valid ranks untouched while keeping the scoring UDF
    # evaluated ONCE (a pre-window filter on the UDF column makes
    # Catalyst evaluate it twice: once in the filter, once projected)
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= k) & F.col("_cos").isNotNull())
        .select(query_id, vec_id, "rnk")
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    planes: DataFrame,
    threshold: float = 0.99,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    plane_id: str = "plane_id",
    plane_col: str = "p_embedding",
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with random-hyperplane LSH
    blocking: bucket = sign bits of the dot product against each plane
    (identical vectors always share a bucket), candidate pairs form only
    inside a bucket, exact cosine refines.

    ``n_tables`` is the OR-amplification dial (the band structure
    :func:`..dedup.minhash_lsh_pairs` has): the plane list splits into
    ``n_tables`` contiguous groups of p = len(planes)/n_tables planes
    (by POSITION in the id-sorted list); each group is an independent
    hash table and a pair is a candidate if it collides in ANY table —
    P(candidate at cos τ) = 1 − (1 − q^p)^L with q = 1 − θ/π.  A single
    table at the scale-appropriate ~log2(N) planes keeps buckets O(1) but
    collapses recall (~25 % at τ=0.99, N=2^30); L tables of log2(N)
    planes each restore it while the per-table bucket population stays
    O(N/2^p).

    Scale shape: ONE map-only scan buckets every vector into all L tables
    (the full plane matrix rides the closure — a B×d @ d×(L·p) matmul per
    Arrow batch), the self-join shuffles on (table, bucket), candidates
    union via distinct, and the Arrow-batched cosine refine runs only on
    in-bucket pairs — the same block→join→refine decomposition as the
    spatial PIP join."""
    # the self-join consumes the bucket frame on BOTH sides — without a
    # checkpoint each side re-runs the full vector scan + L-table matmul
    # (2× the dominant stage; at 100 TB, 2× the table read)
    b = hyperplane_buckets(
        vectors,
        planes,
        n_tables=n_tables,
        vec_id=vec_id,
        vec_col=vec_col,
        plane_id=plane_id,
        plane_col=plane_col,
    ).localCheckpoint(eager=True)
    left = b.select(F.col("_id").alias("id_a"), "_tbl", "_bucket")
    right = b.select(F.col("_id").alias("id_b"), "_tbl", "_bucket")
    pairs = (
        left.join(right, ["_tbl", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vectors.select(F.col(vec_id).alias("id_a"), _as_double(F.col(vec_col)).alias("_ea"))
    vb = vectors.select(F.col(vec_id).alias("id_b"), _as_double(F.col(vec_col)).alias("_eb"))
    scored = pairs.join(va, "id_a").join(vb, "id_b").withColumn(
        "_cos", cosine_pd(F.col("_ea"), F.col("_eb"))
    )
    return scored.filter(F.col("_cos") >= threshold).select("id_a", "id_b")


def _assign_centroids_broadcast(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_id: str,
    vec_col: str,
    centroid_id: str,
    centroid_col: str,
    carry_vec: bool,
    n_assign: int,
) -> DataFrame:
    """Broadcast-join assignment for centroid sets too big to pickle into a
    task closure: Spark ships the centroid frame once per executor (torrent
    broadcast, not per-task), the Arrow-batched cosine scores each
    (vector, centroid) pair, and a window keeps the ``n_assign`` nearest
    under the SAME (cos desc, id asc) ordering contract as the closure
    path.  The window shuffles on vec_id — the price of exceeding closure
    scale; plan shows BroadcastNestedLoopJoin (no equi-key exists)."""
    c = centroids.select(
        F.col(centroid_id), _as_double(F.col(centroid_col)).alias("_c")
    )
    sel = [F.col(vec_id), _as_double(F.col(vec_col)).alias("_v")]
    pairs = vectors.select(*sel).join(F.broadcast(c), how="cross")
    scored = pairs.withColumn("_cos", cosine_pd(F.col("_v"), F.col("_c")))
    w = Window.partitionBy(vec_id).orderBy(
        F.col("_cos").desc(), F.col(centroid_id).asc()
    )
    out = [vec_id, centroid_id] + (["_v"] if carry_vec else [])
    # undefined cosines (zero-norm vector or dead centroid) produce NO
    # assignment — same contract as the closure path's -inf mask.  The
    # pandas UDF's NaN arrives as NULL through Arrow (from_pandas maps
    # float NaN to null) and desc is NULLS LAST, so dropping AFTER the
    # window leaves valid ranks untouched AND keeps the cosine UDF
    # evaluated once (a pre-window filter on the UDF column makes
    # Catalyst evaluate it in the filter and again in the projection).
    return (
        scored.withColumn("_rnk", F.row_number().over(w))
        .filter((F.col("_rnk") <= n_assign) & F.col("_cos").isNotNull())
        .select(*out)
    )


def assign_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_col: str = "c_embedding",
    carry_vec: bool = False,
    n_assign: int = 1,
    _chunk_elems: int = 16_000_000,
) -> DataFrame:
    """(vec_id, centroid_id): the ``n_assign`` nearest centroids by cosine
    (ties → lower id; one output row per assignment, nearest first).
    ``_chunk_elems`` bounds the per-matmul score-matrix size (elements);
    overridable so tests can force multi-chunk merges at toy scale.

    Centroid matrix rides the mapInPandas closure: one scan, one matmul +
    top-n per Arrow batch — no crossJoin, no window shuffle.  Centroid
    rows are sorted by id so numpy's first-max argmax IS the lower-id
    tie-break; for n_assign > 1 a (cid, -cos) lexsort keeps the same
    order.  ``carry_vec=True`` additionally emits the embedding column
    (as ``_v``, array<double>) so downstream consumers avoid a re-join
    against the vector table.

    Measured crossover (100k vectors, d=64, local[32]): the closure path
    is the fast path EVERYWHERE it fits — 3.6 s vs 119.3 s for the
    broadcast-join fallback at C=1024 (the fallback's crossJoin
    materializes N×C rows before the rank window; at C=16k its 1.6e9-row
    cosine stage exhausted worker memory).  :data:`CLOSURE_MAX_CENTROIDS`
    is therefore a DRIVER-MEMORY bound, not a compute crossover: the default
    65536 caps the collected matrix at C×d×8 ≈ 33 MB (d=64) and the
    limit+1 collect at 65k driver rows; the per-batch score matrix is no
    longer a constraint (centroid-chunked matmul below).  Past the bound,
    assignment falls back to the broadcast join against the centroid
    frame (same ordering contract, enforced by a window) — a correctness
    escape hatch that pays the N×C row explosion; at corpus scale prefer
    hierarchical probing (:func:`ivf_topk` with a coarse quantizer) over
    a flat C > 65536 codebook.  The size probe is the matrix collect
    itself (limit+1 rows, ONE job) — no separate count pass."""
    cids, Cn = _collect_matrix(
        centroids, centroid_id, centroid_col, normalize=True,
        limit=CLOSURE_MAX_CENTROIDS,
    )
    if cids is None:
        return _assign_centroids_broadcast(
            vectors, centroids, vec_id, vec_col, centroid_id, centroid_col,
            carry_vec, n_assign,
        )
    cid_arr = np.asarray(cids)
    n_assign = min(n_assign, len(cids))
    fields = [
        StructField(vec_id, vectors.schema[vec_id].dataType),
        StructField(centroid_id, centroids.schema[centroid_id].dataType),
    ]
    if carry_vec:
        fields.append(StructField("_v", ArrayType(DoubleType())))
    out_schema = StructType(fields)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            with np.errstate(invalid="ignore", divide="ignore"):
                Vn = V / np.sqrt((V * V).sum(axis=1))[:, None]
            B = len(Vn)
            # centroid-CHUNKED scoring: a full B×C score matrix is the real
            # memory ceiling of the closure path — at the default Arrow
            # batch (20k rows) and C = 65536, B×C float64 is ~10.5 GB PER
            # WORKER (measured: the un-chunked form stalled the host at
            # C ≥ 64k).  Chunks of ≤ ~16M elements keep the working set
            # ~128 MB while the running merge keeps exact (cos desc, cid
            # asc) semantics: ascending-cid chunk order + strict > update
            # (n_assign=1) or a final lexsort over per-chunk top-n
            # candidates (n_assign>1).
            chunk = max(1, _chunk_elems // max(B, 1))
            # NaN scores (zero-norm vector OR zero-norm centroid — an empty
            # k-means cluster) demote to -inf so they rank LAST everywhere
            # (a raw np.argmax treats NaN as maximal, which would let one
            # dead centroid in a chunk swallow that chunk's real best), and
            # any assignment whose final score is still -inf is DROPPED:
            # an undefined cosine produces no assignment, the same contract
            # the broadcast path enforces with its isnan filter.  The
            # targeted isnan write (not nan_to_num) leaves genuine ±inf
            # scores alone — impossible for cosines of finite input, but a
            # latent rewrite trap if upstream ever ships inf components.
            if n_assign == 1:
                best_s = np.full(B, -np.inf)
                best = np.zeros((B, 1), dtype=np.int64)
                for lo in range(0, len(cid_arr), chunk):
                    S = Vn @ Cn[lo : lo + chunk].T
                    S[np.isnan(S)] = -np.inf
                    loc = np.argmax(S, axis=1)  # first max = lowest cid
                    s = S[np.arange(B), loc]
                    upd = s > best_s  # strict: earlier (lower) cid wins ties
                    best_s[upd] = s[upd]
                    best[upd, 0] = loc[upd] + lo
                valid = best_s[:, None] > -np.inf
            else:
                cand_s, cand_i = [], []
                for lo in range(0, len(cid_arr), chunk):
                    S = Vn @ Cn[lo : lo + chunk].T
                    S[np.isnan(S)] = -np.inf
                    # stable (cos desc, cid asc) order per row within chunk
                    order = np.lexsort(
                        (np.broadcast_to(np.arange(S.shape[1]), S.shape), -S),
                        axis=1,
                    )[:, :n_assign]
                    cand_i.append(order + lo)
                    cand_s.append(np.take_along_axis(S, order, axis=1))
                Sc = np.concatenate(cand_s, axis=1)
                Ic = np.concatenate(cand_i, axis=1)
                order = np.lexsort((Ic, -Sc), axis=1)[:, :n_assign]
                best = np.take_along_axis(Ic, order, axis=1)
                valid = np.take_along_axis(Sc, order, axis=1) > -np.inf
            reps = best.shape[1]
            mask = valid.ravel()
            if not mask.any():
                # every row's cosine was undefined (zero-norm batch): an
                # all-empty dict would let pandas type `_v` float64 and
                # Arrow refuse the list<double> cast — yield nothing.
                continue
            out = {
                vec_id: np.repeat(pdf[vec_id].to_numpy(), reps)[mask],
                centroid_id: cid_arr[best].ravel()[mask],
            }
            if carry_vec:
                vs = [r.astype(np.float64) for r in V]
                flat = [v for v in vs for _ in range(reps)]
                out["_v"] = [v for v, ok in zip(flat, mask) if ok]
            yield pd.DataFrame(out)

    return vectors.select(vec_id, vec_col).mapInPandas(assign, schema=out_schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "q_embedding",
    centroid_id: str = "centroid_id",
    centroid_col: str = "c_embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: search the query's ``nprobe`` nearest cells.

    Recall < 1 by design (the oracle encodes the same approximation, so the
    comparison is exact); raising ``nprobe`` trades candidates for recall.
    Vectors stay single-assigned, so multi-probe never duplicates a
    (query, vec) candidate pair.  Plan: one assignment scan per side
    (embedding carried through — no re-join against the vector table),
    broadcast the tiny assigned-query set, Arrow-batched cosine on the
    in-cell candidates, window top-k."""
    v_assigned = assign_centroids(
        vectors, centroids, vec_id, vec_col, centroid_id, centroid_col,
        carry_vec=True,
    )
    q_assigned = assign_centroids(
        queries,
        centroids,
        query_id,
        query_col,
        centroid_id,
        centroid_col,
        carry_vec=True,
        n_assign=nprobe,
    ).withColumnRenamed("_v", "_q")
    cands = v_assigned.join(F.broadcast(q_assigned), on=centroid_id, how="inner")
    scored = cands.withColumn("_cos", cosine_pd(F.col("_v"), F.col("_q")))
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(), F.col(vec_id).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, vec_id, "rnk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN memory-compression scale path: a
# d-dim float vector (d×4 bytes) compresses to n_sub one-byte codes, so a
# 100 TB embedding corpus's index fits in a fraction of executor memory
# and candidate scoring never touches the raw vectors (asymmetric distance
# via per-query lookup tables).  Codebooks here are the deterministic
# first-ksub corpus rows (the _emb_centroids convention) — a k-means
# codebook trains offline in a real deployment and plugs into the same
# encode/score path.
# ---------------------------------------------------------------------------


def pq_codebook(
    vectors: DataFrame,
    ksub: int = 8,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """(ksub, dim) float64 codebook from the first ``ksub`` vectors.
    Guards CONTIGUITY (ids exactly 0..ksub-1), not just the count — a
    gapped id space would silently select different codebook rows than
    the oracle's ``vec_id < ksub`` rule (the _lsh_planes lesson)."""
    ids, M = _collect_matrix(
        vectors.filter(F.col(vec_id) < ksub),
        vec_id,
        vec_col,
        normalize=False,
        limit=ksub,
    )
    if ids is None or list(ids) != list(range(ksub)):
        raise ValueError(
            f"codebook rows must have contiguous {vec_id} 0..{ksub - 1}; "
            f"got {ids if ids is not None else f'more than {ksub} rows'}"
        )
    return M


def _pq_subspace_codes(V: "np.ndarray", CB: "np.ndarray", n_sub: int) -> "np.ndarray":
    """(B, n_sub) int64 codes: per subspace, the index of the L2-nearest
    codebook row (np.argmin keeps the FIRST minimum — the lowest code id,
    matching the oracle's ``ORDER BY dist ASC, cid ASC`` tie-break)."""
    B, dim = V.shape
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    dsub = dim // n_sub
    codes = np.empty((B, n_sub), dtype=np.int64)
    for s in range(n_sub):
        Vs = V[:, s * dsub : (s + 1) * dsub]
        Cs = CB[:, s * dsub : (s + 1) * dsub]
        # (B, ksub) squared distances; ksub×dsub is tiny so the expansion
        # stays ~B×ksub×dsub doubles per subspace — bounded by batch size
        D = ((Vs[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = np.argmin(D, axis=1)
    return codes


def pq_codes(
    vectors: DataFrame,
    codebook: "np.ndarray",
    n_sub: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, c0..c{n_sub-1}) int64 — each vector's PQ code tuple.  The
    encode is a map-only Arrow-batched scan (codebook rides the closure,
    ksub×dim doubles — broadcast-tiny); output is pure int64, so the
    driver gate hashes it exactly."""
    if codebook.shape[1] % n_sub:
        raise ValueError(
            f"dim {codebook.shape[1]} not divisible by n_sub {n_sub}"
        )
    code_cols = [f"c{s}" for s in range(n_sub)]
    out_schema = StructType(
        [StructField(vec_id, vectors.schema[vec_id].dataType)]
        + [StructField(c, LongType()) for c in code_cols]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            codes = _pq_subspace_codes(V, codebook, n_sub)
            out = {vec_id: pdf[vec_id].to_numpy()}
            for s, c in enumerate(code_cols):
                out[c] = codes[:, s]
            yield pd.DataFrame(out)

    return vectors.select(vec_id, vec_col).mapInPandas(encode, schema=out_schema)


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebook: "np.ndarray",
    k: int,
    n_sub: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "q_embedding",
    query_limit: int = 4096,
) -> DataFrame:
    """(query_id, vec_id, rnk): approximate top-k by PQ asymmetric
    distance (ADC), ties → lower vec_id.  Recall < 1 by design; the
    oracle encodes the same quantization, so the comparison is exact.

    Scale shape: queries collect driver-side (contract-small, guarded by
    ``query_limit``) into per-query LUTs of squared subspace distances to
    every codebook row (Q × n_sub × ksub doubles).  The corpus scan is
    map-only: encode the batch, gather LUT entries by code, and keep a
    per-batch top-k — any global top-k row is in its batch's top-k under
    the same (dist asc, vec_id asc) order, so the exchange carries only
    k·q·partitions rows (the cosine_topk shape).  The per-row distance is
    the LEFT-TO-RIGHT sum of the n_sub gathered LUT entries — the same
    association the oracle spells — so rows with identical code tuples
    tie EXACTLY within each engine and fall through to the vec_id
    tie-break (rows with different codes differ generically; floats
    never cross engines, only ranks do)."""
    qids, Q = _collect_matrix(
        queries, query_id, query_col, normalize=False, limit=query_limit
    )
    if qids is None:
        raise ValueError(f"query side exceeds query_limit={query_limit} rows")
    nq, dim = Q.shape
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    ksub = codebook.shape[0]
    dsub = dim // n_sub
    lut = np.empty((nq, n_sub, ksub), dtype=np.float64)
    for s in range(n_sub):
        Qs = Q[:, s * dsub : (s + 1) * dsub]
        Cs = codebook[:, s * dsub : (s + 1) * dsub]
        lut[:, s, :] = ((Qs[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=2)
    out_schema = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType),
            StructField(vec_id, vectors.schema[vec_id].dataType),
            StructField("_dist", DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [query_id, vec_id, "_dist"]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            codes = _pq_subspace_codes(V, codebook, n_sub)
            vids = pdf[vec_id].to_numpy()
            parts = []
            for j in range(nq):
                # left-to-right adds: same-code rows tie bit-exactly
                d = lut[j, 0, codes[:, 0]].copy()
                for s in range(1, n_sub):
                    d = d + lut[j, s, codes[:, s]]
                order = np.lexsort((vids, d))[:k]
                parts.append(
                    pd.DataFrame(
                        {
                            query_id: [qids[j]] * len(order),
                            vec_id: vids[order],
                            "_dist": d[order],
                        }
                    )
                )
            yield pd.concat(parts)[cols] if parts else pd.DataFrame(columns=cols)

    partials = vectors.select(vec_id, vec_col).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("_dist").asc(), F.col(vec_id).asc())
    return (
        partials.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, vec_id, "rnk")
    )


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: "np.ndarray",
    k: int,
    n_sub: int = 4,
    nprobe: int = 1,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "q_embedding",
    centroid_id: str = "centroid_id",
    centroid_col: str = "c_embedding",
) -> DataFrame:
    """IVFPQ: coarse cosine cell pruning composed with PQ asymmetric-
    distance scoring — the FAISS IVFPQ architecture on DataFrames.  The
    corpus assigns once to its nearest cell (carrying the vector), each
    query probes its ``nprobe`` nearest cells, and only the IN-CELL
    candidates are scored — by ADC against the per-query LUT, so at full
    scale the scored representation is n_sub bytes per candidate, not the
    raw vector.  Recall < 1 twice over (cell pruning × quantization); the
    oracle encodes both approximations, so the comparison is exact.

    Scale shape: one assignment scan per side (the assign_centroids
    closure path — no crossJoin), broadcast of the tiny assigned-query
    set, then ONE Arrow-batched map stage over candidates (encode + LUT
    gather fused; the LUT is recomputed per batch from the joined query
    vector — a pure function of (query, codebook), so every batch agrees
    bit-for-bit), and a k·q-row rank window.  Distances use the same
    left-to-right LUT-sum association as :func:`pq_topk`: same-code
    candidates of the same query tie exactly and fall to the vec_id
    tie-break in both engines."""
    if codebook.shape[1] % n_sub:
        raise ValueError(f"dim {codebook.shape[1]} not divisible by n_sub {n_sub}")
    ksub = codebook.shape[0]
    dsub = codebook.shape[1] // n_sub
    v_assigned = assign_centroids(
        vectors, centroids, vec_id, vec_col, centroid_id, centroid_col,
        carry_vec=True,
    )
    q_assigned = assign_centroids(
        queries, centroids, query_id, query_col, centroid_id, centroid_col,
        carry_vec=True, n_assign=nprobe,
    ).withColumnRenamed("_v", "_q")
    cands = v_assigned.join(F.broadcast(q_assigned), on=centroid_id, how="inner")
    out_schema = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType),
            StructField(vec_id, vectors.schema[vec_id].dataType),
            StructField("_dist", DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [query_id, vec_id, "_dist"]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
            codes = _pq_subspace_codes(V, codebook, n_sub)
            qcodes, quniq = pd.factorize(pdf[query_id], use_na_sentinel=False)
            dist = np.empty(len(pdf), dtype=np.float64)
            for ui in range(len(quniq)):
                rows = np.flatnonzero(qcodes == ui)
                qv = np.asarray(pdf["_q"].iloc[rows[0]], dtype=np.float64)
                lut = np.empty((n_sub, ksub), dtype=np.float64)
                for s in range(n_sub):
                    Qs = qv[s * dsub : (s + 1) * dsub]
                    Cs = codebook[:, s * dsub : (s + 1) * dsub]
                    lut[s] = ((Cs - Qs[None, :]) ** 2).sum(axis=1)
                d = lut[0, codes[rows, 0]].copy()
                for s in range(1, n_sub):
                    d = d + lut[s, codes[rows, s]]
                dist[rows] = d
            yield pd.DataFrame(
                {
                    query_id: pdf[query_id],
                    vec_id: pdf[vec_id],
                    "_dist": dist,
                }
            )[cols]

    scored = cands.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("_dist").asc(), F.col(vec_id).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, vec_id, "rnk")
    )


def semdedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_col: str = "c_embedding",
    _chunk_elems: int = 16_000_000,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup move): cluster embeddings by
    a coarse quantizer, then drop every vector that has a LOWER-id
    same-cell neighbor with cosine ≥ ``threshold``.  Returns the KEPT
    (vec_id, centroid_id) rows.

    The drop rule is an order-free EXISTS — v drops iff ∃ u in v's cell
    with u.id < v.id and cos(u, v) ≥ threshold — NOT the sequential
    greedy sweep (a dropped u still kills later near-dups of u).  That
    makes the operator deterministic under any partitioning and exactly
    SQL-expressible (an anti-join), at the cost of occasionally dropping
    a whole chain where greedy would re-seed; for dedup that bias is the
    safe direction.  Vectors with undefined cosine (zero norm) get no
    cell and are dropped at assignment, the :func:`assign_centroids`
    contract.

    Scale shape: one assignment scan (centroid matrix rides the closure
    — no crossJoin), ONE shuffle on the cell id into a per-cell Arrow
    stage that computes the in-cell cosine matrix with row-chunked
    matmuls (``_chunk_elems`` bounds the chunk×m working set).  The
    pairwise work is O(Σ m_c²·d) — the SemDeDup cost model: cells are
    corpus/C sized, so C is chosen ∝ N to bound m_c; a mega-cell is the
    operator's skew hazard, surfaced by the same bucket-telemetry lens
    as the LSH joins.  Cosine spells num/sqrt(n2_i·n2_j) — identical to
    :func:`cosine_pd` and the DuckDB twin's list_cosine_similarity, so
    threshold decisions agree away from ulp-adjacent boundaries (the
    embed_neardup convention: thresholds sit in a gap of the data's
    cosine spectrum)."""
    assigned = assign_centroids(
        vectors, centroids, vec_id, vec_col, centroid_id, centroid_col,
        carry_vec=True,
    )
    out_schema = StructType(
        [
            StructField(vec_id, vectors.schema[vec_id].dataType),
            StructField(centroid_id, centroids.schema[centroid_id].dataType),
        ]
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(vec_id, kind="mergesort").reset_index(drop=True)
        V = np.vstack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
        n2 = np.einsum("ij,ij->i", V, V)
        m = len(V)
        keep = np.ones(m, dtype=bool)
        chunk = max(1, _chunk_elems // max(m, 1))
        for lo in range(0, m, chunk):
            hi = min(lo + chunk, m)
            G = V[lo:hi] @ V.T
            with np.errstate(invalid="ignore", divide="ignore"):
                C = G / np.sqrt(n2[lo:hi, None] * n2[None, :])
            # strictly-lower-id columns only: j < global row index i
            tri = np.arange(m)[None, :] < np.arange(lo, hi)[:, None]
            keep[lo:hi] = ~((C >= threshold) & tri).any(axis=1)
        return pdf.loc[keep, [vec_id, centroid_id]]

    return assigned.groupBy(centroid_id).applyInPandas(prune, schema=out_schema)


def _tdiv(s: int, n: int) -> int:
    """Integer division truncating toward zero — Spark's ``DIV`` and
    DuckDB's ``//`` semantics (Python's ``//`` FLOORS, which differs on
    negative sums; embeddings have negative components)."""
    return -((-s) // n) if s < 0 else s // n


def kmeans_fp(
    vectors: DataFrame,
    centroids: DataFrame,
    iterations: int = 3,
    scale: int = 10**6,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_col: str = "c_embedding",
) -> DataFrame:
    """Fixed-point k-means (Lloyd) — every arithmetic step is int64, so
    the result is BIT-IDENTICAL across engines, partitionings, and AQE
    re-plans (float k-means differs run-to-run through summation order;
    this is the clustering twin of graph.domain_rank's discipline).

    Contract (spelled identically in :func:`kmeans_fp_sql`):

    * quantize every component to ``q = CAST(FLOOR(x·scale) AS BIGINT)``
      (IEEE multiply + floor: identical everywhere);
    * assignment: argmin over centroids of Σ_dims (qv−qc)² — pure int64,
      EXACT, ties → lower centroid id.  No float comparison exists
      anywhere in the loop, so even near-ties are deterministic —
      stronger than the cosine-assignment operators, whose decisions are
      only empirically stable;
    * update: qc' = Σ_members qv DIV n (truncation toward zero — Spark
      ``DIV`` == DuckDB ``//``; Python floors, so the driver spells
      :func:`_tdiv`); an EMPTY cluster keeps its previous centroid;
    * output: (centroid_id, dim, q, n) — final quantized centroids
      (dim is 1-based, matching SQL list indexing) and member counts.

    Scale shape: per iteration ONE corpus scan through an Arrow stage
    that quantizes, assigns (int64 matmul expansion ‖v‖²−2v·c+‖c‖², no
    B×C×d tensor), and emits per-batch PARTIAL per-(cid, dim) sums —
    map-side combine inside the UDF, so the exchange carries
    C·d·partitions rows; a C·d groupBy collects to the driver (a tiny
    control frame) where the next centroid matrix is formed exactly.
    The corpus frame is persisted once and re-read
    per round; T iterations never stack T plans because each round's
    Spark work is an independent job over the same cached frame."""
    if iterations < 1:
        raise ValueError(f"iterations {iterations} < 1")
    cids, qc = _quantized_matrix(centroids, centroid_id, centroid_col, scale)
    C, d = qc.shape
    src = vectors.select(
        F.col(vec_id), _as_double(F.col(vec_col)).alias("_e")
    ).persist()
    src.count()  # eager: every round re-reads this frame
    out_schema = StructType(
        [
            StructField("cid", LongType()),
            StructField("dim", IntegerType()),
            StructField("s", LongType()),
            StructField("n", LongType()),
        ]
    )
    spark = vectors.sparkSession
    try:
        for _ in range(iterations):
            qc_now = qc  # bind per-round (closure-factory rule)

            def partial(
                batches: Iterator[pd.DataFrame], _qc=qc_now
            ) -> Iterator[pd.DataFrame]:
                # int64 throughout: q ≤ scale, so ‖c‖² ≤ d·scale² ≈ 6.4e13
                c_n2 = np.einsum("ij,ij->i", _qc, _qc)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    V = np.vstack(pdf["_e"].to_numpy()).astype(np.float64, copy=False)
                    Q = np.floor(V * float(scale)).astype(np.int64)
                    # ‖q−c‖² = ‖q‖² − 2 q·c + ‖c‖²; ‖q‖² is constant per row
                    # and drops out of the argmin — int64 matmul, exact
                    D = c_n2[None, :] - 2 * (Q @ _qc.T)
                    a = np.argmin(D, axis=1)  # first min = lowest cid index
                    S = np.zeros((len(_qc), Q.shape[1]), dtype=np.int64)
                    np.add.at(S, a, Q)
                    n = np.bincount(a, minlength=len(_qc)).astype(np.int64)
                    hit = np.flatnonzero(n)
                    yield pd.DataFrame(
                        {
                            "cid": np.repeat(hit, Q.shape[1]),
                            "dim": np.tile(
                                np.arange(1, Q.shape[1] + 1, dtype=np.int32),
                                len(hit),
                            ),
                            "s": S[hit].ravel(),
                            "n": np.repeat(n[hit], Q.shape[1]),
                        }
                    )

            agg = (
                src.mapInPandas(partial, schema=out_schema)
                .groupBy("cid", "dim")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            )
            rows = agg.collect()  # ≤ C·d rows: a control frame
            sums = np.zeros((C, d), dtype=object)
            counts = np.zeros(C, dtype=np.int64)
            for r in rows:
                ci = int(r["cid"])
                sums[ci, int(r["dim"]) - 1] = int(r["s"])
                counts[ci] = int(r["n"])
            new_qc = qc.copy()
            for ci in range(C):
                if counts[ci]:
                    for di in range(d):
                        new_qc[ci, di] = _tdiv(int(sums[ci, di]), int(counts[ci]))
            qc = new_qc
    finally:
        src.unpersist()
    return local.local_frame(
        spark,
        {
            "centroid_id": np.repeat(cids, d),
            "dim": np.tile(np.arange(1, d + 1), C),
            "q": qc.ravel(),
            "n": np.repeat(counts, d),
        },
        "centroid_id bigint, dim int, q bigint, n bigint",
    )


def _quantized_matrix(df: DataFrame, id_col: str, vec_col: str, scale: int):
    """(ids, int64 matrix) of floor(x·scale) per component, rows sorted
    by id — the kmeans_fp quantization, applied once to the seed.  The
    :func:`..local.collect_upto` probe is also the fetch (one job, the
    _collect_matrix convention): a data-sized 'seed' is a caller bug and
    fails loudly instead of spilling the driver."""
    rows = local.collect_upto(df.select(id_col, vec_col), CLOSURE_MAX_CENTROIDS)
    if rows is None:
        raise ValueError(
            f"kmeans seed exceeds {CLOSURE_MAX_CENTROIDS} rows — not a control frame"
        )
    rows = sorted(rows, key=lambda r: r[0])
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    M = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return ids, np.floor(M * float(scale)).astype(np.int64)


def kmeans_fp_sql(
    vectors_sql: str,
    seed_pred: str,
    dim: int,
    iterations: int = 3,
    scale: int = 10**6,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`kmeans_fp`: T rounds unroll into chained
    CTEs (the domain_rank_sql discipline), each spelling the identical
    int64 arithmetic — FLOOR(x·scale) quantization, Σ(qv−qc)² argmin
    with lower-cid ties, truncating ``//`` update, empty-cluster carry.
    ``seed_pred`` selects the seed rows (e.g. ``vec_id < 8``)."""
    ctes = [
        f"""vq AS (
  SELECT {vec_id} AS vid, s.i AS dim,
         CAST(FLOOR(CAST({vec_col}[s.i] AS DOUBLE) * {scale}.0) AS BIGINT) AS q
  FROM ({vectors_sql}) v, (SELECT UNNEST(RANGE(1, {dim + 1})) AS i) s),
c0 AS (SELECT vid AS cid, dim, q FROM vq WHERE {seed_pred.replace(vec_id, 'vid')})"""
    ]
    for t in range(1, iterations + 1):
        p = t - 1
        ctes.append(
            f"""a{t} AS (
  SELECT vid, cid FROM (
    SELECT vq.vid, c.cid,
           ROW_NUMBER() OVER (PARTITION BY vq.vid
             ORDER BY SUM((vq.q - c.q) * (vq.q - c.q)) ASC, c.cid ASC) AS r
    FROM vq JOIN c{p} c USING (dim) GROUP BY vq.vid, c.cid) WHERE r = 1),
m{t} AS (
  -- DuckDB SUM(BIGINT) widens to HUGEINT: cast back so q stays int64
  SELECT a.cid, vq.dim, CAST(SUM(vq.q) // COUNT(*) AS BIGINT) AS q,
         COUNT(*) AS n
  FROM a{t} a JOIN vq ON vq.vid = a.vid GROUP BY a.cid, vq.dim),
c{t} AS (
  SELECT c.cid, c.dim, COALESCE(m.q, c.q) AS q,
         COALESCE(m.n, CAST(0 AS BIGINT)) AS n
  FROM c{p} c LEFT JOIN m{t} m ON m.cid = c.cid AND m.dim = c.dim)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT cid AS centroid_id, CAST(dim AS INTEGER) AS dim, q, n "
        f"FROM c{iterations}"
    )
