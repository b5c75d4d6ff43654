"""Physical-plan assertions: the optimizer properties the engine relies on
at 100 TB must hold, not be hoped for — column pruning reaches the parquet
scan, filters push down, the PIP broadcast phase really broadcasts, and the
hot paths stay inside whole-stage codegen."""

import pytest
from pyspark.sql import functions as F

from tests.plans import executed_plan as _plan


def test_documents_scan_prunes_columns(spark, sf_dir):
    """text_quality touches only (doc_id, text) — the scan must not read
    lang/source/n_chars."""
    from shapefile_rs_spark.operators.textstats import quality_metrics

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(quality_metrics(docs))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_parquet_filter_pushdown(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("lang") == "en"
    )
    plan = _plan(docs.select("doc_id"))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "EqualTo(lang,en)" in pushed


def test_pip_broadcast_phase_is_broadcast(spark, sf_dir):
    """The small-polygon phase must be a broadcast hash join of the point
    scan — no shuffle of the page table, no sort-merge join."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pages = geotag_pages(pages_from_documents(spark, sf_dir)).select(
        "doc_id", "lon", "lat"
    )
    joined = point_in_polygon_join(
        pages,
        demo.oracle_polygons_df(spark),
        point_cols=["doc_id"],
        polygon_cols=["polygon_id"],
        broadcast_polygons=True,
    )
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pip_broadcast_phase_is_one_arrow_kernel(spark, join_fixture_dir):
    """The broadcast phase is one scalar Arrow kernel over the point scan
    plus one broadcast hash join to the polygon attributes: exactly one
    Python evaluation node, one BroadcastHashJoin, no shuffle Exchange
    (the point side is never exchanged) and no point-side cell columns.
    A join of a small shapefile layer plus ``tile_aggregate`` runs 3 jobs,
    counted from Spark's status store: the layer is decoded on the driver
    into a local relation, so collecting the polygon side runs none (the
    distributed read ran 2 more; the cell-equi join with its covering and
    geometry relations ran 6)."""
    import re

    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join
    from shapefile_rs_spark.operators.tiles import tile_aggregate
    from shapefile_rs_spark.sources.shapefile_source import (
        read_shapefiles,
        shapes_with_typed_attrs,
    )

    sc = spark.sparkContext
    points = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 100) * 0.1).alias("lon"),
        ((F.col("id") % 50) * 0.2).alias("lat"),
    )
    polygons = shapes_with_typed_attrs(
        read_shapefiles(spark, join_fixture_dir, pattern="polygons"), {"id": "bigint"}
    ).select(F.col("id").alias("polygon_id"), "wkb")

    plan = _plan(
        point_in_polygon_join(points, polygons, point_cols=["doc_id"], broadcast_polygons=True)
    )
    assert plan.count("EvalPython") == 1
    assert plan.count("BroadcastHashJoin") == 1
    assert re.findall(r"\w*Exchange", plan) == ["BroadcastExchange"]
    assert "_cell_" not in plan and "cell_id" not in plan

    group = "pip-broadcast-jobs"
    sc.setJobGroup(group, group)
    try:
        tiles = tile_aggregate(
            point_in_polygon_join(points, polygons, point_cols=["doc_id", "lon", "lat"]), z=6
        ).collect()
    finally:
        sc.setJobGroup("", "")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    jobs = [
        j
        for j in conv.asJava(jsc.statusStore().jobsList(None))
        if j.jobGroup().isDefined() and j.jobGroup().get() == group
    ]
    assert sum(r["n_pages"] for r in tiles) > 0
    assert len(jobs) == 3


def test_page_synthesis_stays_in_codegen(spark, sf_dir):
    """html build + geotag parse + cell index: one codegen'd map stage, no
    Python (BatchEvalPython/ArrowEvalPython) anywhere in the plan."""
    from shapefile_rs_spark.operators.spatial_join import with_cells
    from shapefile_rs_spark.pages import geotag_pages, synth_pages_from_ids

    ids = spark.range(100).withColumnRenamed("id", "page_id")
    pts = with_cells(
        geotag_pages(synth_pages_from_ids(ids)).select("doc_id", "lon", "lat"), [8]
    )
    plan = _plan(pts)
    assert plan.lstrip().startswith("*(")  # whole-stage-codegen'd map stage
    assert "EvalPython" not in plan  # no row- or Arrow-batch Python stages


def test_multi_level_with_cells_is_one_scan(spark, sf_dir):
    """Two covering levels index the points in ONE scan: no Union of
    per-level re-scans, and the cell ids stay Catalyst (no Python)."""
    from shapefile_rs_spark.operators.spatial_join import with_cells
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    pages = geotag_pages(pages_from_documents(spark, sf_dir)).select("doc_id", "lon", "lat")
    plan = _plan(with_cells(pages, [4, 8]))
    assert plan.count("FileScan") == 1
    assert "Union" not in plan
    assert "EvalPython" not in plan
    # the grid coordinate is nested 4 times per (level, axis) in the
    # projection of the first spreading steps, not 32 times as inline
    assert plan.count("FLOOR(") - _plan(pages).count("FLOOR(") == 2 * 2 * 4


def test_knn_join_cell_ids_are_two_projections(spark, monkeypatch):
    """knn_join's pass-0 aggregation indexes both sides with the split
    cell-id projections: the grid coordinate appears 4 times per (side,
    axis), not the 32 times the inline ``cell_id_col`` nests it (128 in
    all), and the rows still match brute force."""
    from shapefile_rs_spark.operators.knn import knn_bruteforce, knn_join

    pts = spark.range(200).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 37) % 360 - 180.0).alias("lon"),
        ((F.col("id") * 53) % 180 - 90.0).alias("lat"),
    )
    qs = spark.range(50).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 71) % 360 - 179.5).alias("q_lon"),
        ((F.col("id") * 13) % 180 - 89.5).alias("q_lat"),
    )
    want = {tuple(r) for r in knn_bruteforce(pts, qs, k=3).collect()}
    frame = type(pts)
    collect = frame.collect
    plans = []

    def recording_collect(df):
        plans.append(_plan(df))
        return collect(df)

    monkeypatch.setattr(frame, "collect", recording_collect)
    got = {tuple(r) for r in knn_join(pts, qs, k=3, res=5).collect()}
    assert got == want and len(got) == 150
    assert plans[0].count("FLOOR(") == 2 * 2 * 4


def test_simhash_pairs_joins_checkpointed_banded_frame(spark, sf_dir):
    """The banded fingerprint frame is localCheckpoint'ed before the
    self-join: the pairing plan must consume the materialized RDD on BOTH
    sides with NO ArrowEvalPython (a python node here would mean the
    fingerprint scan re-runs per join side — 2x the table read at scale)."""
    from shapefile_rs_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    plan = _plan(simhash_pairs(docs, id_col="id", radius=2, bucket_cap=50))
    assert "ArrowEvalPython" not in plan
    assert "ExistingRDD" in plan


def test_quality_prune_two_phase_broadcasts_counts(spark, sf_dir, executed_plans):
    """The mega-strata path must attach n_stratum via a BROADCAST join of
    the tiny per-stratum count table (no count window, whose exchange
    would serialize each stratum through one partition) and rank over a
    RANGE partitioning (the sample-sort boundary pass)."""
    from shapefile_rs_spark.operators.curation import quality_prune

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.col("n_chars").alias("quality")
    )
    out, plans = executed_plans(lambda: quality_prune(docs, 0.3, mega_strata_threshold=1))
    assert "BroadcastHashJoin" in _plan(out)
    assert any("Exchange rangepartitioning" in p for p in plans)
    # no per-stratum window anywhere in the two-phase plans
    assert not any("Window" in p for p in [*plans, _plan(out)])


def test_span_dedup_exchange_carries_long_key(spark, sf_dir):
    """With hash_keys (the default) the corpus-count shuffle must carry an
    int64 xxhash64 key, never the raw span string — ~8× shuffle volume at
    k=5 on 100 TB of text."""
    import re

    from shapefile_rs_spark.operators.dedup import span_dedup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    plan = _plan(span_dedup_stats(docs, id_col="id", k=5))
    # the count window's exchange is keyed by the hashed column, LongType
    # (the #<id>L attribute suffix)
    assert re.search(r"hashpartitioning\(_k#\d+L", plan)
    # no exchange anywhere shuffles the raw span string
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "_span#" not in ln


def test_dup_coverage_exchange_carries_long_key(spark, sf_dir):
    """Same contract for the overlapping-gram coverage operator: the gram
    text stays in the scan stage; only its xxhash64 is exchanged."""
    import re

    from shapefile_rs_spark.operators.dedup import dup_coverage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    plan = _plan(dup_coverage(docs, id_col="id", k=8))
    assert re.search(r"hashpartitioning\(_k#\d+L", plan)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "_gram#" not in ln


def test_host_cap_single_host_exchange(spark, sf_dir):
    """host_cap is one shuffle on the host key: exactly one hash-partition
    exchange, keyed by host, feeding the rank window."""
    from shapefile_rs_spark.operators.curation import host_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.col("source").alias("host"),
        F.col("n_chars").alias("quality"),
    )
    plan = _plan(host_cap(docs, cap=5))
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1 and "host" in exchanges[0]


def test_registry_rotation_guard():
    """Driver-gate rotation discipline (VERDICT r5 items 1+6).

    The driver snapshot samples the first DRIVER_GATE_WINDOW (=50) registry
    entries; anything past that gets no CORRECTNESS row.  This guard makes
    the rotation self-enforcing:
      * the parked tail must exactly match the ROTATION ledger,
      * no parked query may go >=2 rounds without a driver row,
      * appending a new query past the window without a ROTATION entry fails.
    """
    import __spark_entry__ as e

    names = list(e.queries())
    parked = names[e.DRIVER_GATE_WINDOW:]
    assert set(parked) == set(e.ROTATION), (
        "registry tail drifted from ROTATION ledger: "
        f"tail={sorted(parked)} ledger={sorted(e.ROTATION)}"
    )
    stale = {
        q: stamp
        for q, stamp in e.ROTATION.items()
        if e.CURRENT_ROUND - stamp >= 2
    }
    assert not stale, (
        f"parked queries {stale} have gone >=2 rounds without a driver row "
        "- rotate them back into positions 1-50"
    )
    # The 9 queries that had never been driver-gated before round 6 must sit
    # inside the snapshot window until CORRECTNESS records them green.
    never_gated = [
        "doc_sample", "token_count", "span_dedup", "simhash_pairs",
        "host_cap", "quality_prune", "quality_prune2", "dup_coverage",
        "incr_neardup",
    ]
    window = set(names[: e.DRIVER_GATE_WINDOW])
    assert all(q in window for q in never_gated)


def test_host_cap_salted_plan_no_mega_partition(spark, sf_dir):
    """With mega_host_threshold set and a planted mega-host, the FIRST
    (full-data) window exchange must hash on (host, _salt) — the mega-host
    spreads over salt buckets instead of serializing through one task; the
    host-only exchange that remains feeds the phase-2 window over the
    cap-bounded candidate set only."""
    import re

    from shapefile_rs_spark.operators.curation import host_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        # planted mega-host owning 1/3 of all docs among 37 normal hosts
        # (a literal-only host would be constant-folded out of the
        # partitioning keys entirely)
        F.when(F.col("doc_id") % 3 == 0, F.lit("megahost"))
        .otherwise(
            F.concat(F.lit("s"), F.pmod(F.col("doc_id") * 131, F.lit(37)))
        )
        .alias("host"),
        F.col("n_chars").alias("quality"),
    )
    plan = _plan(host_cap(docs, cap=5, mega_host_threshold=10))
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    # phase 1 keys the full-data exchange by (host, _salt)
    assert any(
        re.search(r"hashpartitioning\(host#\d+, _salt#\d+", ln) for ln in exchanges
    ), exchanges
    # the host-only exchange exists only downstream of the per-salt prune
    # (phase 2 over candidates) — never as the sole full-data exchange
    salted_idx = next(
        i for i, ln in enumerate(plan.splitlines())
        if re.search(r"hashpartitioning\(host#\d+, _salt#\d+", ln)
    )
    host_only = [
        i for i, ln in enumerate(plan.splitlines())
        if re.search(r"hashpartitioning\(host#\d+, \d+\)", ln)
    ]
    # physical plans print downstream-first: phase-2's host-only exchange
    # appears ABOVE phase-1's (host, _salt) exchange
    assert host_only and all(i < salted_idx for i in host_only)


def test_budget_sample_two_phase_plan_is_windowless(spark, sf_dir, executed_plans):
    """The mega-strata prefix sum must rank over a RANGE partitioning (the
    sample-sort boundary pass) with NO window operator anywhere — a window
    would re-introduce the single-task stratum the plan exists to avoid.
    The default plan, by contrast, is exactly the stratum-keyed window."""
    from shapefile_rs_spark.operators.curation import budget_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.col("n_chars").alias("n_tokens")
    )
    two, plans = executed_plans(lambda: budget_sample(docs, 10**6, mega_strata_threshold=1))
    assert any("Exchange rangepartitioning" in p for p in plans)
    assert not any("Window" in p for p in [*plans, _plan(two)])
    wplan = _plan(budget_sample(docs, 10**6))
    assert "Window" in wplan and "Exchange rangepartitioning" not in wplan


def test_seq_pack_two_phase_plan_is_windowless(spark, sf_dir, executed_plans):
    """seq_pack's mega-strata plan inherits token_prefix's shape: range
    partitioning, NO window operator, and the bin fan-out is a Generate
    (explode) over pure-codegen arithmetic — no shuffle is introduced
    between the prefix sum and the bins.  The default plan is the
    stratum-keyed window plus the same Generate."""
    from shapefile_rs_spark.operators.curation import seq_pack

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.col("n_chars").alias("n_tokens")
    )
    two, plans = executed_plans(lambda: seq_pack(docs, 64, mega_strata_threshold=1))
    assert any("Exchange rangepartitioning" in p for p in plans)
    assert not any("Window" in p for p in [*plans, _plan(two)])
    assert "Generate explode" in _plan(two)
    wplan = _plan(seq_pack(docs, 64))
    assert "Window" in wplan and "Generate explode" in wplan
    assert "Exchange rangepartitioning" not in wplan


def test_para_dedup_winner_is_partial_aggregation(spark, sf_dir):
    """The winner per paragraph must be a map-side-combining aggregation
    (partial_min over the occurrence struct), NEVER a content-keyed
    window — a boilerplate paragraph repeated N times must ship one
    candidate per map partition, not serialize N rows through one window
    task.  No cartesian product anywhere."""
    from shapefile_rs_spark.operators.dedup import chunk_words, para_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", chunk_words(F.col("text"), 8).alias("text")
    )
    plan = _plan(para_dedup(docs, id_col="doc_id"))
    assert "partial_min" in plan  # winner combine runs map-side
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_mix_weights_single_pruned_aggregate(spark, sf_dir):
    """The corpus feeds ONE map-side-combining hash aggregation over a
    two-column scan, scanned exactly once — the target-only-strata rows
    union in as a driver-built frame re-aggregated at strata scale, NOT
    as an anti-join (which would plan the data-sized aggregation subtree
    twice).
    So: one parquet scan, no join of any kind, exactly two exchanges (the
    data agg + the strata-sized re-agg), and the read prunes to exactly
    (lang, tokens)."""
    from shapefile_rs_spark.operators.curation import mix_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.col("n_chars").alias("n_tokens")
    )
    plan = _plan(mix_weights(docs, {"en": 500, "fr": 200, "zz": 100}, 10**6))
    assert "partial_sum" in plan
    assert plan.count("Scan parquet") == 1  # corpus read once, not per branch
    assert plan.count("Exchange") == 2
    assert "Join" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema and "doc_id" not in read_schema


def test_decontaminate_bloom_confirm_reads_survivors_and_cached_grams(spark):
    """The exact-confirm join's corpus side must be the Bloom-survivor
    stream (probe MapInPandas stacked on the shingle MapInPandas), and its
    benchmark side must re-read the materialized grams (ExistingRDD, the
    checkpoint the Bloom build filled), not recompute the benchmark
    shingles or read a cache."""
    from shapefile_rs_spark.operators.curation import decontaminate_bloom

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zeta eta theta iota")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma delta")], "doc_id bigint, text string"
    )
    out = decontaminate_bloom(docs, bench, k=3, m_bits=1 << 12)
    plan = _plan(out)
    assert plan.count("MapInPandas") >= 2  # shingle generator + bloom probe
    assert "ExistingRDD" in plan  # bench grams from the checkpoint
    assert "InMemoryTableScan" not in plan


def test_line_prune_threshold_filters_before_join(spark, sf_dir):
    """The boilerplate frequency table must partial-aggregate map-side and
    filter to threshold-crossing lines BEFORE the join back, so the join's
    build side is boilerplate-sized, not distinct-line-sized; the removal
    is an anti-join, never a content-keyed window; no cartesian product."""
    from shapefile_rs_spark.operators.dedup import line_prune

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(line_prune(docs, max_docs=2))
    assert "partial_count" in plan  # doc-frequency combines map-side
    # r7: the removal is a keep-flag LEFT join against the (distinct)
    # boilerplate set feeding ONE doc-keyed aggregation — no second
    # totals aggregation, no outer join-back, still never a
    # content-keyed window
    assert "LeftOuter" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the >= threshold filter sits under the join (on the aggregated side),
    # so the per-line frequency rows never reach the exchange unfiltered
    assert "(_docs" in plan and ">= 2" in plan


def test_mix_temp_single_scan_no_data_join(spark, sf_dir):
    """mix_temp scans the corpus once into one map-side-combining
    aggregation; the total weight is an unpartitioned window over the
    STRATA-sized aggregate (one subtree — a scalar cross join would plan
    the data aggregation twice and re-scan the corpus); no join at all."""
    from shapefile_rs_spark.operators.curation import mix_temp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.col("n_chars").alias("n_tokens")
    )
    plan = _plan(mix_temp(docs, 10**6))
    assert "partial_sum" in plan
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema


def test_pq_topk_is_map_only_scan(spark, sf_dir):
    """PQ scoring is ONE Arrow-batched map stage over the corpus (encode +
    LUT gather + per-batch top-k fused in a single MapInPandas) — no join
    of any kind, and the only exchange feeds the k·q-row final window."""
    from shapefile_rs_spark.operators.similarity import pq_codebook, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cb = pq_codebook(emb, ksub=8)
    plan = _plan(pq_topk(emb, q, cb, k=5, n_sub=4))
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_domain_rank_iteration_reuses_persisted_edges(spark, sf_dir, monkeypatch):
    """Each round consumes the ONE persisted edges⋈outdeg frame
    (InMemoryTableScan) and the per-round localCheckpoint truncates
    lineage (ExistingRDD at the top of the next round) — T iterations
    never stack T join plans, and the final rank window runs over the
    host-sized control frame only."""
    from shapefile_rs_spark.operators.graph import domain_rank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = docs.select(
        (F.col("doc_id") % 64).alias("src"),
        (F.expr("doc_id * doc_id DIV 64") % 64).alias("dst"),
    ).distinct()
    plan = _plan(domain_rank(edges, iterations=3))
    # control-sized host sets rank driver-side (local_frame) —
    # the plan is a local relation; the corpus never re-enters, and no
    # path ever runs the unpartitioned rank window (the r6 weak item)
    assert "Scan parquet" not in plan
    assert "Exchange SinglePartition" not in plan
    # the scale path (forced via a DRIVER_ROWS budget of 0): sample-sort
    # rank, same rows, still no single-task exchange
    with monkeypatch.context() as m:
        m.setattr("shapefile_rs_spark.local.DRIVER_ROWS", 0)
        big = domain_rank(edges, iterations=3)
        bplan = _plan(big)
        assert "Exchange SinglePartition" not in bplan
        big_rows = sorted(map(tuple, big.collect()))
    assert big_rows == sorted(map(tuple, domain_rank(edges, iterations=3).collect()))


def test_ivf_pq_topk_broadcasts_queries_no_shuffle_join(spark, sf_dir):
    """IVFPQ's plan: three Arrow map stages (corpus assign, query assign,
    fused ADC scoring) glued by a BROADCAST join on the cell id — the
    corpus side never shuffles; the only exchange feeds the k·q rank
    window."""
    from shapefile_rs_spark.operators.similarity import ivf_pq_topk, pq_codebook

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_embedding")
    )
    cb = pq_codebook(emb, ksub=8)
    plan = _plan(ivf_pq_topk(emb, q, cents, cb, k=5, n_sub=4, nprobe=2))
    assert plan.count("MapInPandas") == 3
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_semdedup_single_cell_shuffle(spark, sf_dir):
    """semdedup's plan: one Arrow assignment scan, ONE exchange on the
    cell id into the per-cell prune stage — no join, no cartesian."""
    from shapefile_rs_spark.operators.similarity import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_embedding")
    )
    plan = _plan(semdedup(emb, cents, threshold=0.99))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(centroid_id" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 1


def test_kmeans_fp_result_is_local_values(spark, sf_dir):
    """kmeans_fp's returned frame is a driver-built local_frame (a tiny
    control frame collected to the driver): the iterative jobs already ran, so
    the RESULT plan must be a LocalTableScan with no parquet scan and no
    exchange — consumers pay nothing to reuse the centroids."""
    from shapefile_rs_spark.operators.similarity import kmeans_fp

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_embedding")
    )
    plan = _plan(kmeans_fp(emb, cents, iterations=1))
    assert "LocalTableScan" in plan
    assert "Scan parquet" not in plan and "Exchange" not in plan


def test_bm25_scoring_plan_take_ordered(spark, sf_dir):
    """bm25's returned plan: ONE map-only scoring scan finished by
    TakeOrderedAndProject (Spark's distributed partial top-k — no global
    sort of the corpus); the only exchange is the SinglePartition feed of
    the k-row rank window.  The stats pass already ran at build time as
    its own job (a 1-row control frame), so it never re-enters this
    plan — the scalar-aggregate re-scan trap stays closed."""
    from shapefile_rs_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(bm25_topk(docs, ["spark", "vector"], k=10))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 1
    # TakeOrdered's single-partition output already satisfies the k-row
    # rank window: ZERO exchanges in the whole plan
    assert plan.count("Exchange") == 0


def test_dsir_scoring_plan_broadcast_weights(spark, sf_dir):
    """dsir's scoring plan: tokenize scan → BROADCAST join against the
    256-row driver-built weight table → partial-aggregated doc sum — no
    sort-merge join, ONE doc-keyed exchange."""
    from shapefile_rs_spark.operators.curation import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(dsir_weights(docs, F.col("lang") == "en"))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 1
    assert "partial_sum" in plan or "partial sum" in plan.lower()


def test_incr_dsir_batch_plan_never_touches_corpus(spark, sf_dir):
    """dsir_weights_incremental's scoring plan consumes the checkpointed
    batch tokenization (ExistingRDD) and the driver-built weight table —
    the corpus is structurally unreachable (no parquet scan at all once
    the registry control frame is collected)."""
    from shapefile_rs_spark.operators.curation import (
        dsir_registry,
        dsir_weights_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    reg = dsir_registry(corpus, F.col("lang") == "en")
    weights, _ = dsir_weights_incremental(batch, reg, F.col("lang") == "en")
    plan = _plan(weights)
    assert "ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def _widen_caller(name, docs):
    """``docs`` (doc_id, text) through one of :func:`session.widen`'s callers."""
    from shapefile_rs_spark.operators import dedup
    from shapefile_rs_spark.operators.multimodal import attach_fake_media
    from shapefile_rs_spark.pages import synth_pages_from_ids

    return {
        "synth_pages_from_ids": lambda: synth_pages_from_ids(
            docs.select(F.col("doc_id").alias("page_id"))
        ),
        "minhash_signatures": lambda: dedup.minhash_signatures(docs),
        "dup_coverage": lambda: dedup.dup_coverage(docs, id_col="doc_id", k=2),
        "attach_fake_media": lambda: attach_fake_media(docs.select("doc_id")),
    }[name]()


@pytest.mark.parametrize(
    "name", ["synth_pages_from_ids", "minhash_signatures", "dup_coverage", "attach_fake_media"]
)
def test_widen_resplits_only_narrow_inputs(spark, name):
    """The one re-split rule, through each of its callers: a one-partition
    input is re-split round-robin to ``defaultParallelism``, an input that
    already has that many partitions is read as it is, and the rows are
    the same either way."""
    par = spark.sparkContext.defaultParallelism

    def docs(n_parts):
        return spark.range(0, 60, 1, n_parts).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", F.lit("the page"), (F.col("id") % 7).cast("string"), F.lit("body")
            ).alias("text"),
        )

    narrow = _widen_caller(name, docs(1))
    wide = _widen_caller(name, docs(par))
    assert "RoundRobinPartitioning" in _plan(narrow)
    assert "RoundRobinPartitioning" not in _plan(wide)
    assert sorted(map(str, narrow.collect())) == sorted(map(str, wide.collect()))
