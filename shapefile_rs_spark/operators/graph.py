"""Iterative graph analytics over web-scale host graphs.

Training-data pipelines rank DOMAINS, not just documents: a host-level
endorsement score (the Common-Crawl-ranks / harmonic-centrality idea)
feeds crawl prioritization and per-domain quality priors.  The operator
here is a damped link-endorsement iteration (PageRank-shaped) computed in
FIXED-POINT int64 arithmetic — floor division at every step — so the
result is bit-identical across engines and partitionings (the repo's
hash-exact oracle convention; float PageRank sums would differ by
summation order even between two Spark runs).

Scale shape: deriving the edge list from the corpus is the one data-sized
pass (a distinct aggregation — combines map-side); the iteration itself
touches only host-sized frames, one dst-keyed exchange per round, with
``localCheckpoint`` truncating lineage each round so T iterations never
stack T plans (the classic Spark iterative-algorithm discipline,
dedup_clusters' pointer-jumping twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import local

_RANKED = "host long, score long, rank int"


def _domain_rank_driver(
    spark, edge_rows: list, iterations: int, scale: int, damping_pct: int
) -> DataFrame:
    """Driver-side twin of the distributed iteration for control-sized
    graphs: identical fixed-point arithmetic (int64 floor division on
    non-negative scores ⇒ numpy ``//`` == Spark ``DIV``), identical
    (score desc, host asc) rank, built back with :func:`..local.local_frame`."""
    import numpy as np

    a = np.array([r["_a"] for r in edge_rows], dtype=np.int64)
    b = np.array([r["_b"] for r in edge_rows], dtype=np.int64)
    hosts = np.unique(np.concatenate([a, b]))
    ai = np.searchsorted(hosts, a)
    bi = np.searchsorted(hosts, b)
    outdeg = np.bincount(ai, minlength=len(hosts)).astype(np.int64)
    base = (100 - damping_pct) * scale // 100
    score = np.full(len(hosts), int(scale), dtype=np.int64)
    lim = (1 << 63) - 1
    for _ in range(iterations):
        contrib = score[ai] // outdeg[ai]
        s = np.zeros(len(hosts), dtype=np.int64)
        np.add.at(s, bi, contrib)
        if damping_pct and int(s.max(initial=0)) > lim // max(damping_pct, 1):
            raise ValueError(
                "domain_rank fixed-point overflow (int64) — lower `scale` "
                "(same loud failure as the ANSI distributed path)"
            )
        score = base + (damping_pct * s) // 100
    order = np.lexsort((hosts, -score))
    return local.local_frame(
        spark,
        {
            "host": hosts[order],
            "score": score[order],
            "rank": np.arange(1, len(order) + 1),
        },
        _RANKED,
    )


def domain_rank(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(host, score, rank): damped endorsement score after ``iterations``
    synchronous rounds over a (src, dst) edge list, in fixed-point int64.

    Contract (spelled identically in :func:`domain_rank_sql`):

    * ``score₀ = scale`` for every host appearing as src or dst;
    * each round, a host sends ``score DIV outdeg`` along every out-edge
      (floor division — exact, order-free);
    * ``score' = ((100 − damping_pct)·scale) DIV 100 +
      (damping_pct · Σ contrib) DIV 100``; hosts with no in-edges keep
      just the base.  Per-node base (not divided by N) — an unnormalized
      variant, fine for ranking;
    * output rank is dense ``row_number`` by (score desc, host asc).

    Everything is int64: sums of per-edge int64 contributions are exact
    in ANY order, so Spark partial aggregation, AQE re-plans, and
    DuckDB's serial sum all agree bit-for-bit — the reason this spells
    floor-division fixed-point instead of float PageRank.  With
    ``scale=10¹²`` and hosts ≤ ~10⁶, ``damping_pct · Σ contrib`` stays
    under 100·scale·H ≈ 10²⁰ only if H ≤ 9·10⁴ — ANSI mode makes an
    overflow loud; callers ranking more hosts lower ``scale``."""
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct {damping_pct} outside [0, 100]")
    if iterations < 0:
        raise ValueError(f"iterations {iterations} negative")
    e = edges.select(
        F.col(src_col).cast("long").alias("_a"),
        F.col(dst_col).cast("long").alias("_b"),
    ).persist()  # ONE data-sized derivation; nodes/outdeg/eo read the cache
    eo = nodes = None
    try:
        # control-sized graphs (≤ DRIVER_ROWS edges, no null hosts) run
        # the WHOLE iteration driver-side: the distributed spelling costs
        # ~15 tiny shuffle stages for 5 rounds — pure scheduling at this
        # size (measured 2.4s for 64 hosts; the numpy loop is exact int64
        # with the identical floor-division arithmetic)
        probe = local.collect_upto(e)
        if probe is not None and not any(
            r["_a"] is None or r["_b"] is None for r in probe
        ):
            return _domain_rank_driver(
                edges.sparkSession, probe, iterations, scale, damping_pct
            )
        nodes = (
            e.select(F.col("_a").alias("host"))
            .unionByName(e.select(F.col("_b").alias("host")))
            .distinct()
        )
        outdeg = e.groupBy(F.col("_a")).agg(F.count(F.lit(1)).alias("_n"))
        # edges ⋈ outdeg once, persisted: every iteration re-reads this frame
        eo = e.join(outdeg, "_a").persist()
        nodes = nodes.persist()
        # ONE action fills all three caches (e → eo → the union probe also
        # runs nodes' subtree): one scheduling round-trip, not three
        n_hosts = nodes.count()
        eo.count()
        e.unpersist()
        base = (100 - damping_pct) * scale // 100
        score = nodes.withColumn("score", F.lit(int(scale)).cast("long"))
        for i in range(iterations):
            contrib = (
                score.join(eo, score["host"] == eo["_a"])
                .select(F.col("_b").alias("host"), F.expr("score DIV _n").alias("_c"))
                .groupBy("host")
                .agg(F.sum("_c").alias("_s"))
            )
            score = nodes.join(contrib, "host", "left").select(
                "host",
                (
                    F.lit(int(base)).cast("long")
                    + F.expr(
                        f"({damping_pct} * COALESCE(_s, CAST(0 AS BIGINT))) DIV 100"
                    )
                ).alias("score"),
            )
            # truncate lineage every few rounds: one eager job per FOUR
            # rounds keeps long iterations from stacking plans while short
            # ones (the common 3-5) no longer pay a scheduling round-trip
            # per iteration — checkpointing is semantically transparent
            if (i + 1) % 4 == 0 and (i + 1) < iterations:
                score = score.localCheckpoint(eager=True)
    finally:
        e.unpersist()
        if eo is not None:
            eo.unpersist()
            nodes.unpersist()
    # final global rank — NEVER an unpartitioned row_number window (10^8
    # hosts would serialize through one sort task).  Hosts ≤ DRIVER_ROWS:
    # collect the control frame and build the ranked rows back with
    # local_frame (fewer jobs than any distributed spelling at control
    # size).  Bigger: segmented_scan over one global stratum, rank =
    # running count + 1 (the scan returns a checkpointed frame).
    if n_hosts <= local.DRIVER_ROWS:
        rows = score.collect()
        rows.sort(key=lambda r: (-r["score"], r["host"]))
        return local.local_frame(
            edges.sparkSession,
            [(r["host"], r["score"], i + 1) for i, r in enumerate(rows)],
            _RANKED,
        )
    from .scan import SCAN_COL, segmented_scan

    scanned = segmented_scan(score, None, [F.col("score").desc()], "host")
    return scanned.select("host", "score", (F.col(SCAN_COL) + 1).cast("int").alias("rank"))


def domain_rank_sql(
    edges_sql: str,
    iterations: int = 5,
    scale: int = 10**12,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> str:
    """DuckDB twin of :func:`domain_rank`: the T rounds unroll into T
    chained CTEs (standard SQL forbids aggregation in a recursive term),
    each spelling the identical fixed-point arithmetic."""
    base = (100 - damping_pct) * scale // 100
    ctes = [
        f"""e AS (SELECT CAST({src_col} AS BIGINT) AS a, CAST({dst_col} AS BIGINT) AS b
     FROM ({edges_sql}) s),
nodes AS (SELECT DISTINCT a AS host FROM e UNION SELECT DISTINCT b FROM e),
outdeg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY a),
pr0 AS (SELECT host, CAST({int(scale)} AS BIGINT) AS score FROM nodes)"""
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""pr{k} AS (
  SELECT n.host,
         CAST({int(base)} AS BIGINT)
         + ({damping_pct} * COALESCE(c.s, CAST(0 AS BIGINT))) // 100 AS score
  FROM nodes n LEFT JOIN (
    SELECT e.b AS host, CAST(SUM(p.score // o.n) AS BIGINT) AS s
    FROM pr{k - 1} p JOIN e ON e.a = p.host JOIN outdeg o ON o.a = p.host
    GROUP BY e.b) c USING (host))"""
        )
    final = f"pr{iterations}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT host, score,
       ROW_NUMBER() OVER (ORDER BY score DESC, host ASC) AS rank
FROM {final}
"""
    )
