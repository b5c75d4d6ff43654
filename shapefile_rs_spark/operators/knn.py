"""kNN (K1): one exact operator, :func:`knn_join`, and its brute-force kernel.

* :func:`knn_join` — every query row gets its exact k nearest points.
  Its first aggregation counts the finite points and the queries; when
  their product (the pair work) is at most :data:`BRUTE_PAIRS` it runs
  the broadcast kernel below, otherwise two histogram-priced cell passes
  (the expanding-ring search: a query's ring of cells grows until its
  k-th distance is provably inside it).
* :func:`knn_bruteforce` — exact top-k via broadcast cross join + window
  rank over FINITE points: the kernel :func:`knn_join` selects for a
  small pair work, and the reference the tests compare both paths to.

Distance metric: planar squared euclidean on (lon, lat) — consistent with
the cell metric (FIXTURES.md §4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cells as C

# Pair work (finite points × queries) at or below which knn_join runs the
# broadcast kernel instead of the cell passes: the crossover measured on a
# 4-core host, local[4], min of 3 warm runs of each path on the same inputs
# (BASELINE.md, "kNN path crossover").  4 queries cross between 1M pairs
# (brute 0.93 s, cells 1.19 s) and 2M (1.86 s, 1.67 s); 150 queries between
# 3M and 10M; the sf0.1 page self-join (5,000 × 5,000 on one partition)
# takes 15.9 s brute and 1.4 s on the cells.
BRUTE_PAIRS = 2_000_000


def dist2_col(lon1, lat1, lon2, lat2):
    """Squared planar distance as a Catalyst expression (codegen'd JVM-side);
    the SQL oracle spells the identical arithmetic."""
    return (lon1 - lon2) * (lon1 - lon2) + (lat1 - lat2) * (lat1 - lat2)


def knn_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
) -> DataFrame:
    """(query_id, point_id, dist2, rank) — exact; queries side broadcast.

    Ties break on point id so results are deterministic (and match the SQL
    oracle's ORDER BY dist2, point_id).  Takes finite points only: a null
    coordinate gives a NULL dist2, which ranks first.  :func:`knn_join`
    drops such points before it calls this kernel."""
    pairs = points.crossJoin(F.broadcast(queries))
    with_d = pairs.withColumn(
        "dist2", dist2_col(F.col(lon_col), F.col(lat_col), F.col(q_lon), F.col(q_lat))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist2").asc(), F.col(point_id).asc())
    return (
        with_d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "dist2", "rank")
    )


def _finite_cells(df: DataFrame, lon: str, lat: str, name: str, res: int) -> DataFrame:
    """``df`` plus its res-``res`` cell id as column ``name``; a row whose
    ``lon`` or ``lat`` is null, NaN or ±inf gets null in both coordinates
    and in ``name`` (:func:`cells.with_cell_ids` alone puts a null or NaN
    in an edge cell and overflows its cast on ±inf).  knn_join's one
    rule, on both paths: such a point is nobody's neighbour, such a query
    an error."""
    q = C.quote_ident
    # Spark orders NaN above +inf, so this is false for NaN and ±inf
    finite = f"abs({q(lon)}) < double('inf') AND abs({q(lat)}) < double('inf')"
    df = df.withColumns({c: F.expr(f"CASE WHEN {finite} THEN {q(c)} END") for c in (lon, lat)})
    return C.with_cell_ids(df, lon, lat, {name: res}).withColumn(
        name, F.expr(f"CASE WHEN {q(lon)} IS NOT NULL THEN {q(name)} END")
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int = 6,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
) -> DataFrame:
    """Exact kNN JOIN: every query row gets its k nearest points, with no
    driver-side per-query state.

    Pass 0 is one aggregation over both sides (the point histogram and the
    distinct query cells, ≤ 4^res rows each) that also fills their caches.
    Its counts pick the path with no extra job: when n_queries × finite
    points is at most :data:`BRUTE_PAIRS`, the broadcast kernel
    :func:`knn_bruteforce` ranks every pair of the cached sides and its
    output-sized result is checkpointed; otherwise two cell passes run:

    1. A driver-side summed-area table over the pass-0 histogram
       (collectable by construction for res ≤ 8) prices, for every
       DISTINCT QUERY CELL, the minimal Chebyshev radius whose ring holds
       ≥ k points.  Points are then REPLICATED to the query cells whose priced
       ring reaches them (a driver-built CSR map riding a broadcast) and a
       cogrouped per-cell numpy kernel computes every resident query's
       exact top-k — candidate PAIRS are enumerated inside vectorized
       numpy, never as Spark rows, so the shuffle carries
       O(Σ ring populations) point rows instead of O(n_queries × ring
       population) pair rows (the r6 plan shuffled 60M pair rows through a
       window sort at sf1.0; this shape shuffles ~0.3M).  Dense (hot)
       cells cost m·n numpy FLOPs but only m+n shuffled rows.
    2. Rows whose top-k is not yet PROVEN (kth > r·min_dim coverage bound)
       re-run once with r = ceil(kth/min_dim) — sufficient by construction
       (the round-1 kth is an upper bound on the true kth distance), so
       pass 2 terminates every query.  Typically a small minority of
       queries (those near cell boundaries/sparse regions) reach pass 2.

    dist2 is bit-identical to the expression plan: the numpy kernel spells
    the same IEEE operand tree ((lon-q_lon)·(lon-q_lon)+(lat-q_lat)·
    (lat-q_lat), elementwise float64) and ties break on point_id exactly
    like the ORDER BY.

    Output: (query_id, point_id, dist2, rank), the same rows on both paths.
    The only non-DataFrame state is the ≤4^res histogram — everything else
    shuffles on cell keys.

    Non-finite coordinates: a point whose lon or lat is null, NaN or ±inf
    is excluded (it is nobody's neighbour and does not count towards k);
    a query whose q_lon or q_lat is one raises ``ValueError`` naming how
    many there are.  Both counts come from the pass-0 aggregation, so
    they cost no extra job.
    """
    if res > 8:
        raise ValueError("knn_join histogram is exact up to res 8 (4^res cells)")
    spark = points.sparkSession
    n_side = 1 << res
    min_dim = min(360.0 / n_side, 180.0 / n_side)

    pts = _finite_cells(
        points.select(point_id, lon_col, lat_col), lon_col, lat_col, "_pcell", res
    ).persist()
    qx = _finite_cells(
        queries.select(query_id, q_lon, q_lat), q_lon, q_lat, "_qcell", res
    ).persist()
    # filtered above the cache: below it, Catalyst would push the filter
    # into the points' own projection and evaluate lon/lat twice
    finite = pts.where(F.col("_pcell").isNotNull())
    try:
        # pass-0: ONE job computes the point histogram AND the distinct
        # query cells (both ≤ 4^res rows by construction) while filling both
        # caches — a union of the two cell projections tagged by side (the
        # domain_rank one-action materialization move; separate collects
        # cost a scheduling round-trip each)
        both = (
            pts.select(F.col("_pcell").alias("_c"), F.lit(1).alias("_side"))
            .unionByName(qx.select(F.col("_qcell").alias("_c"), F.lit(0).alias("_side")))
            .groupBy("_c", "_side")
            .count()
            .collect()
        )
        bad_q = sum(r["count"] for r in both if r["_c"] is None and r["_side"] == 0)
        if bad_q:
            raise ValueError(
                f"knn_join: {bad_q} query rows have a null or non-finite {q_lon} or {q_lat}"
            )
        hist = [r for r in both if r["_side"] == 1 and r["_c"] is not None]
        total = sum(r["count"] for r in hist)
        if total * sum(r["count"] for r in both if r["_side"] == 0) <= BRUTE_PAIRS:
            return knn_bruteforce(
                finite, qx, k, point_id, query_id, lon_col, lat_col, q_lon, q_lat
            ).localCheckpoint(eager=True)  # output-sized; the finally frees the caches
        grid = np.zeros((n_side, n_side), dtype=np.int64)
        _, hix, hiy = C.decode_cell(np.array([r["_c"] for r in hist], dtype=np.int64))
        grid[hix, hiy] = [r["count"] for r in hist]
        sat = np.zeros((n_side + 1, n_side + 1), dtype=np.int64)
        sat[1:, 1:] = grid.cumsum(0).cumsum(1)

        qcells = np.array(sorted(r["_c"] for r in both if r["_side"] == 0), dtype=np.int64)
        _, qix, qiy = C.decode_cell(qcells)

        if total < k:
            # degenerate: fewer points than k — single global ring covers all
            r1_of = {int(c): n_side for c in qcells}
        else:
            # price ONLY the query cells: one vectorized SAT pass per radius,
            # assigning each query cell the first r whose ring holds >= k
            # points (loop exits when every query cell is priced)
            r_q = np.full(len(qcells), -1, dtype=np.int64)
            for r in range(n_side + 1):
                x0 = np.clip(qix - r, 0, n_side - 1)
                x1 = np.clip(qix + r, 0, n_side - 1)
                y0 = np.clip(qiy - r, 0, n_side - 1)
                y1 = np.clip(qiy + r, 0, n_side - 1)
                pop = sat[x1 + 1, y1 + 1] - sat[x0, y1 + 1] - sat[x1 + 1, y0] + sat[x0, y0]
                newly = (r_q < 0) & (pop >= k)
                r_q[newly] = r
                if (r_q >= 0).all():
                    break
            r_q[r_q < 0] = n_side
            r1_of = {int(c): max(1, int(r)) for c, r in zip(qcells, r_q)}

        q_type = queries.schema[query_id].dataType.simpleString()
        p_type = points.schema[point_id].dataType.simpleString()
        pass_schema = (
            f"{query_id} {q_type}, {point_id} {p_type}, dist2 double, rank int, "
            f"{q_lon} double, {q_lat} double, _rm int, _n int, _kth double"
        )

        def cell_pass(q_side: DataFrame, cell_r: dict) -> DataFrame:
            """q_side carries (query_id, q_lon, q_lat, _qcell); cell_r maps
            query cell → Chebyshev radius.  Exact top-k per query via point
            replication + cogrouped numpy (see the operator docstring)."""
            src2tgt: dict = {}
            for c, r in cell_r.items():
                for s in C.k_ring(int(c), int(r)):
                    src2tgt.setdefault(int(s), []).append(int(c))
            items = sorted(src2tgt.items())
            srcs = np.array([s for s, _ in items], dtype=np.int64)
            lens = np.array([len(t) for _, t in items], dtype=np.int64)
            offs = np.zeros(len(items) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            tgts = np.array(
                [t for _, ts in items for t in ts], dtype=np.int64
            ) if items else np.empty(0, dtype=np.int64)
            bc = spark.sparkContext.broadcast((srcs, offs, tgts))

            def replicate(batches):
                srcs_, offs_, tgts_ = bc.value
                for pdf in batches:
                    if not len(pdf) or not len(srcs_):
                        continue
                    pc = pdf["_pcell"].to_numpy(np.int64)
                    pos = np.searchsorted(srcs_, pc)
                    pos_c = np.minimum(pos, len(srcs_) - 1)
                    ok = srcs_[pos_c] == pc
                    start = offs_[pos_c]
                    cnt = np.where(ok, offs_[pos_c + 1] - start, 0)
                    n_out = int(cnt.sum())
                    if n_out == 0:
                        continue
                    rep_row = np.repeat(np.arange(len(pc)), cnt)
                    cs = np.cumsum(cnt)
                    within = np.arange(n_out) - np.repeat(cs - cnt, cnt)
                    tidx = np.repeat(start, cnt) + within
                    yield pd.DataFrame(
                        {
                            "_tcell": tgts_[tidx],
                            point_id: pdf[point_id].to_numpy()[rep_row],
                            lon_col: pdf[lon_col].to_numpy(np.float64)[rep_row],
                            lat_col: pdf[lat_col].to_numpy(np.float64)[rep_row],
                        }
                    )

            repl = finite.mapInPandas(
                replicate,
                schema=f"_tcell long, {point_id} {p_type}, {lon_col} double, {lat_col} double",
            )

            def group_fn(key, qg: pd.DataFrame, cg: pd.DataFrame) -> pd.DataFrame:
                if not len(qg) or not len(cg):
                    # explicit dtypes: a bare empty dict column defaults to
                    # float64 and Arrow refuses float64→string/long casts
                    # (the assign_centroids carry_vec lesson)
                    return pd.DataFrame(
                        {
                            query_id: pd.Series([], dtype=object),
                            point_id: pd.Series([], dtype=object),
                            "dist2": pd.Series([], dtype=np.float64),
                            "rank": pd.Series([], dtype=np.int32),
                            q_lon: pd.Series([], dtype=np.float64),
                            q_lat: pd.Series([], dtype=np.float64),
                            "_rm": pd.Series([], dtype=np.int32),
                            "_n": pd.Series([], dtype=np.int32),
                            "_kth": pd.Series([], dtype=np.float64),
                        }
                    )
                qid = qg[query_id].to_numpy()
                qlo = qg[q_lon].to_numpy(np.float64)
                qla = qg[q_lat].to_numpy(np.float64)
                pid = cg[point_id].to_numpy()
                plo = cg[lon_col].to_numpy(np.float64)
                pla = cg[lat_col].to_numpy(np.float64)
                n_c = len(pid)
                kk = min(n_c, k)
                m = min(n_c, k + 64)
                r_here = int(cell_r[int(key[0])])
                out_q, out_p, out_d, out_kth = [], [], [], []
                # chunk the query dimension so the B×C distance block stays
                # ~16M elements (the assign_centroids memory-ceiling pattern)
                chunk = max(1, 4_000_000 // n_c)
                for s in range(0, len(qid), chunk):
                    # EXACT same IEEE operand tree as dist2_col / the oracle:
                    # (lon−q_lon)·(lon−q_lon)+(lat−q_lat)·(lat−q_lat), f64
                    dlon = plo[None, :] - qlo[s : s + chunk, None]
                    dlat = pla[None, :] - qla[s : s + chunk, None]
                    d2 = dlon * dlon + dlat * dlat
                    if m < n_c:
                        part = np.argpartition(d2, m - 1, axis=1)[:, :m]
                        sel_d = np.take_along_axis(d2, part, axis=1)
                        sel_p = pid[part]
                    else:
                        sel_d = d2
                        sel_p = np.broadcast_to(pid, d2.shape)
                    # lexsort by (dist2, point_id): two stable argsorts compose
                    o1 = np.argsort(sel_p, axis=1, kind="stable")
                    sd = np.take_along_axis(sel_d, o1, axis=1)
                    sp = np.take_along_axis(
                        sel_p if m < n_c else np.ascontiguousarray(sel_p), o1, axis=1
                    )
                    o2 = np.argsort(sd, axis=1, kind="stable")
                    sd = np.take_along_axis(sd, o2, axis=1)
                    sp = np.take_along_axis(sp, o2, axis=1)
                    top_d = sd[:, :kk].copy()
                    top_p = sp[:, :kk].copy()
                    if m < n_c:
                        # boundary-tie guard: if the kth dist equals the m-th
                        # smallest, an excluded candidate may tie with a
                        # smaller id — full exact sort for those (rare) rows
                        unsafe = np.nonzero(top_d[:, kk - 1] >= sd[:, m - 1])[0]
                        for i in unsafe:
                            o = np.lexsort((pid, d2[i]))[:kk]
                            top_p[i] = pid[o]
                            top_d[i] = d2[i][o]
                    out_q.append(np.repeat(qid[s : s + chunk], kk))
                    out_p.append(top_p.ravel())
                    out_d.append(top_d.ravel())
                    out_kth.append(np.repeat(top_d[:, kk - 1], kk))
                n_q = len(qid)
                return pd.DataFrame(
                    {
                        query_id: np.concatenate(out_q),
                        point_id: np.concatenate(out_p),
                        "dist2": np.concatenate(out_d),
                        "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), n_q),
                        q_lon: np.repeat(qlo, kk),
                        q_lat: np.repeat(qla, kk),
                        "_rm": np.full(n_q * kk, r_here, dtype=np.int32),
                        "_n": np.full(n_q * kk, kk, dtype=np.int32),
                        "_kth": np.concatenate(out_kth),
                    }
                )

            return (
                q_side.groupBy("_qcell")
                .cogroup(repl.groupBy("_tcell"))
                .applyInPandas(group_fn, schema=pass_schema)
            )

        pass1 = cell_pass(qx, r1_of).localCheckpoint(eager=True)  # output-sized
        if total < k:
            # degenerate: pass 1 ran at r = n_side and saw EVERY point — the
            # _n >= k guarantee can never hold, and a pass 2 at ceil(kth/dim)
            # would SHRINK the ring and drop rows.  pass 1 is already complete.
            return pass1.select(query_id, point_id, "dist2", "rank")
        proven = (F.col("_n") >= k) & (
            F.col("_kth") <= (F.col("_rm") * F.lit(min_dim)) * (F.col("_rm") * F.lit(min_dim))
        )
        done1 = pass1.filter(proven)

        # pass 2: re-run ONLY the unproven queries at the radius their own
        # round-1 kth bounds — sufficient, so no further passes are needed.
        # The per-cell radius is the MAX over the cell's unproven queries
        # (a superset ring changes nothing: the kernel is exact top-k).
        redo = C.with_cell_ids(
            pass1.filter(~proven)
            .select(query_id, q_lon, q_lat, "_kth")
            .distinct()
            .withColumn(
                "_r",
                F.greatest(
                    F.lit(1), F.ceil(F.sqrt(F.col("_kth")) / F.lit(min_dim)).cast("int")
                ),
            ),
            q_lon,
            q_lat,
            {"_qcell": res},
        )
        cellmax = redo.groupBy("_qcell").agg(F.max("_r").alias("_r")).collect()
        r2_of = {int(r["_qcell"]): min(int(r["_r"]), n_side) for r in cellmax}

        out_cols = [query_id, point_id, "dist2", "rank"]
        if r2_of:
            done2 = cell_pass(redo.select(query_id, q_lon, q_lat, "_qcell"), r2_of)
            result = (
                done1.select(*out_cols)
                .unionByName(done2.select(*out_cols))
                .localCheckpoint(eager=True)  # output-sized; frees the index
            )
        else:
            # every query proven in pass 1: done1 is a lazy filter over the
            # ALREADY-checkpointed pass-1 frame — no second materialization
            result = done1.select(*out_cols)
    finally:
        pts.unpersist()
        qx.unpersist()
    return result
