"""Checkpoint/lineage/resume tests: kill-and-resume, no recompute, deltas,
and the operators' ownership of their own caches."""

import json
import os

import pytest
from pyspark.sql import functions as F

from shapefile_rs_spark.lineage import CheckpointedPipeline


def test_stage_commit_and_lineage(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    df = pipe.run_stage("numbers", lambda: spark.range(1000).withColumn("v", F.col("id") * 2))
    assert df.count() == 1000
    assert pipe.completed("numbers")
    rows = pipe.lineage("numbers")
    assert sum(r["output_rows"] for r in rows) == 1000
    assert all(set(r) == {"stage", "partition_id", "output_rows", "wall_ms"} for r in rows)
    manifest = json.load(open(os.path.join(str(tmp_path), "_manifest.json")))
    assert manifest["stages"]["numbers"]["rows"] == 1000
    assert len(manifest["snapshots"]) == 1


def test_resume_skips_recompute(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10)

    pipe.run_stage("s1", build)
    assert calls["n"] == 1
    # fresh pipeline object = fresh process resuming from the manifest
    pipe2 = CheckpointedPipeline(spark, str(tmp_path))
    df = pipe2.run_stage("s1", build)
    assert calls["n"] == 1  # not recomputed
    assert df.count() == 10


def test_killed_stage_leaves_no_commit(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path))

    def explode():
        raise RuntimeError("simulated mid-stage kill")

    with pytest.raises(RuntimeError):
        pipe.run_stage("dead", explode)
    assert not pipe.completed("dead")
    # resume with a working builder succeeds
    df = pipe.run_stage("dead", lambda: spark.range(5))
    assert df.count() == 5


def test_kill_inside_commit_window_restarts_clean(spark, tmp_path, monkeypatch):
    """Kill INSIDE run_stage's atomicity window — after the staging parquet
    write, before the manifest commit (the writer-finalize contract,
    reference src/writer.rs:190-228 finalize-on-Drop analog).  The stage
    must restart cleanly: not completed, recompute succeeds, exactly one
    snapshot lands, and no staging path ever appears in a snapshot's file
    manifest."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("base", lambda: spark.range(50))

    real_commit = CheckpointedPipeline._commit

    def dying_commit(self, *a, **kw):
        raise RuntimeError("simulated kill before manifest commit")

    monkeypatch.setattr(CheckpointedPipeline, "_commit", dying_commit)
    with pytest.raises(RuntimeError):
        pipe.run_stage("mid", lambda: spark.range(7))
    monkeypatch.setattr(CheckpointedPipeline, "_commit", real_commit)

    # fresh process resuming from the manifest: the half-written stage is
    # invisible (completed() reads the manifest, which never saw it)
    pipe2 = CheckpointedPipeline(spark, root)
    assert not pipe2.completed("mid")
    assert pipe2.completed("base")  # earlier commits untouched
    df = pipe2.run_stage("mid", lambda: spark.range(7))
    assert df.count() == 7
    snaps = pipe2.snapshots("mid")
    assert len(snaps) == 1
    for s in pipe2.snapshots():
        assert s["files"], "snapshot without a file manifest"
        assert all(".staging." not in f for f in s["files"])
        assert all(os.path.exists(f) for f in s["files"])


def test_staging_orphan_cleaned_on_restart(spark, tmp_path):
    """A crash between the staging write and the data-dir rename leaves a
    data.staging.<uuid> sibling.  It must never enter a snapshot, and the
    restart's orphan GC must remove it rather than accreting dead stage
    copies on disk."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    stage_dir = os.path.join(root, "stages", "s")
    orphan = os.path.join(stage_dir, "data.staging.deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as fh:
        fh.write(b"junk")

    df = pipe.run_stage("s", lambda: spark.range(9))
    assert df.count() == 9
    assert not os.path.exists(orphan)
    (snap,) = pipe.snapshots("s")
    assert all(".staging." not in f for f in snap["files"])
    # the committed data reads back exactly the 9 rows — the orphan's junk
    # never contaminated the stage
    assert pipe.read_snapshot("s").count() == 9


def test_delta_orphan_cleaned_on_append(spark, tmp_path):
    """append_delta's staging twin of the run_stage GC: a crash between
    the delta staging write and the file moves leaves data.delta.<uuid> —
    a COMPLETED stage never reaches run_stage's cleanup (early return), so
    the append path must collect its own orphans."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    df = spark.range(10).withColumn("k", F.col("id"))
    pipe.run_stage("s", lambda: df)
    orphan = os.path.join(root, "stages", "s", "data.delta.deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as fh:
        fh.write(b"junk")

    out = pipe.append_delta("s", spark.range(10, 15).withColumn("k", F.col("id")), ["id"])
    assert out.count() == 15
    assert not os.path.exists(orphan)
    for s in pipe.snapshots("s"):
        assert all(".delta." not in os.path.basename(os.path.dirname(f)) for f in s["files"])


def test_delta_midmove_crash_adopts_completed_staging(spark, tmp_path):
    """A kill MID file-move leaves a COMPLETED staging dir (_SUCCESS
    present) with half its files moved.  A retry — even with a DIFFERENT
    batch — must publish the WHOLE interrupted batch, not delete the
    unmoved half (which would silently commit a torn append)."""
    import glob
    import shutil as _sh

    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("s", lambda: spark.range(10))
    data_dir = pipe.stage_path("s")

    # a real completed delta write (ids 10..14, two files), then simulate
    # the crash: one file moved in, one left behind in staging
    orphan = data_dir + ".delta.deadbeef"
    spark.range(10, 15).repartition(2).write.parquet(orphan)
    parts = sorted(glob.glob(os.path.join(orphan, "*.parquet")))
    assert len(parts) >= 2 and os.path.exists(os.path.join(orphan, "_SUCCESS"))
    _sh.move(parts[0], os.path.join(data_dir, "delta-moved-" + os.path.basename(parts[0])))

    # retry with a DIFFERENT batch from a fresh process
    out = CheckpointedPipeline(spark, root).append_delta("s", spark.range(15, 20), ["id"])
    assert not os.path.exists(orphan)
    assert out.count() == 20
    assert {r["id"] for r in out.collect()} == set(range(20))  # no torn 10..14
    assert CheckpointedPipeline(spark, root).read_snapshot("s").count() == 20


def test_delta_postmove_crash_reconciles_manifest(spark, tmp_path, monkeypatch):
    """The OTHER append_delta crash window: killed AFTER the delta files
    moved into the data dir but BEFORE the commit.  The retry's anti-join
    sees the rows already on disk (empty delta) and would skip the commit
    forever — the entry reconcile must first re-commit the directory so
    the manifest lists every on-disk file and read_snapshot sees all
    rows (the time-travel invariant)."""
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("s", lambda: spark.range(10))

    real_commit = CheckpointedPipeline._commit

    def dying_commit(self, *a, **kw):
        raise RuntimeError("kill after file moves, before commit")

    monkeypatch.setattr(CheckpointedPipeline, "_commit", dying_commit)
    with pytest.raises(RuntimeError):
        pipe.append_delta("s", spark.range(10, 15), ["id"])
    monkeypatch.setattr(CheckpointedPipeline, "_commit", real_commit)

    # retry the SAME batch from a fresh process: the rows are on disk but
    # unlisted — reconcile must commit them, and no duplicates may appear
    pipe2 = CheckpointedPipeline(spark, root)
    out = pipe2.append_delta("s", spark.range(10, 15), ["id"])
    assert out.count() == 15
    assert out.select("id").distinct().count() == 15
    assert pipe2.read_snapshot("s").count() == 15  # manifest lists the moved files
    assert pipe2._load()["stages"]["s"]["rows"] == 15


def test_incr_neardup_reads_committed_sig_stage_without_corpus(spark, sf_dir, tmp_path):
    """The recrawl contract end-to-end: (1) the corpus signature stage
    commits once; (2) a resumed pipeline loads it WITHOUT invoking the
    build (the no-recompute guarantee — the build fn here raises if
    called); (3) minhash_lsh_join(corpus_sigs=...) scores a new batch
    with the corpus TEXT structurally absent from the call, and its
    output is row-identical to the recompute path (signatures are
    deterministic)."""
    from shapefile_rs_spark.operators.dedup import (
        minhash_lsh_join,
        minhash_signatures,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 != 0)
        .limit(200)
    )
    new = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.concat(F.col("text"), F.lit(" sfx")).alias("text"))
        .filter(F.col("doc_id") % 5 != 0)
        .limit(40)
    )
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe.run_stage("sigs", lambda: minhash_signatures(docs, id_col="doc_id"))

    def must_not_run():
        raise AssertionError("corpus signatures were recomputed on resume")

    # fresh pipeline object = fresh process; the committed stage loads,
    # the builder is never called
    sigs = CheckpointedPipeline(spark, str(tmp_path)).run_stage("sigs", must_not_run)

    staged = minhash_lsh_join(new, corpus_sigs=sigs, id_col="doc_id")
    direct = minhash_lsh_join(new, docs, id_col="doc_id")
    got = sorted(tuple(r) for r in staged.collect())
    want = sorted(tuple(r) for r in direct.collect())
    assert got == want and len(got) > 0
    # exactly one of corpus/corpus_sigs: both or neither is a usage bug
    with pytest.raises(ValueError):
        minhash_lsh_join(new, docs, corpus_sigs=sigs)
    with pytest.raises(ValueError):
        minhash_lsh_join(new)
    # corpus_bands without corpus_sigs has nothing to score against
    with pytest.raises(ValueError, match="corpus_sigs"):
        minhash_lsh_join(new, docs, corpus_bands=sigs)


def test_incr_neardup_committed_band_stage_skips_rebanding(spark, sf_dir, tmp_path):
    """VERDICT r5 item 4: with the corpus BAND stage committed next to the
    signature stage, a recrawl batch (1) resumes both stages without
    invoking either builder, (2) produces rows identical to the re-banding
    path (banding is deterministic), and (3) holds NO corpus-side banding
    compute in its plan — exactly one Generate/explode (the batch's own
    banding) and the corpus contributes only pre-committed parquet
    scans."""
    from shapefile_rs_spark.operators.dedup import (
        minhash_band_rows,
        minhash_lsh_join,
        minhash_signatures,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 != 0)
        .limit(200)
    )
    new = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.concat(F.col("text"), F.lit(" sfx")).alias("text"))
        .filter(F.col("doc_id") % 5 != 0)
        .limit(40)
    )
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    sigs0 = pipe.run_stage("sigs", lambda: minhash_signatures(docs, id_col="doc_id"))
    pipe.run_stage("bands", lambda: minhash_band_rows(sigs0))

    def must_not_run():
        raise AssertionError("committed stage recomputed on resume")

    fresh = CheckpointedPipeline(spark, str(tmp_path))
    sigs = fresh.run_stage("sigs", must_not_run)
    bands = fresh.run_stage("bands", must_not_run)

    staged = minhash_lsh_join(new, corpus_sigs=sigs, corpus_bands=bands, id_col="doc_id")
    rebanded = minhash_lsh_join(new, corpus_sigs=sigs, id_col="doc_id")
    got = sorted(tuple(r) for r in staged.collect())
    want = sorted(tuple(r) for r in rebanded.collect())
    assert got == want and len(got) > 0
    # the staged plan bands only the NEW side; the re-banding plan holds a
    # second corpus-side explode.  Counted on the OPTIMIZED LOGICAL plan —
    # the physical string duplicates broadcast subtrees, so the same
    # explode can print twice there.
    plan_staged = staged._jdf.queryExecution().optimizedPlan().toString()
    plan_rebanded = rebanded._jdf.queryExecution().optimizedPlan().toString()
    assert plan_staged.count("Generate explode") == 1
    assert plan_rebanded.count("Generate explode") == 2
    # and the pre-banded parquet actually reaches the executors
    phys = staged._jdf.queryExecution().executedPlan().toString()
    assert "band_key" in phys and phys.count("FileScan parquet [_id") >= 2


def _cache_owner_call(name, spark, sf_dir):
    """The operator call ``name`` over small sf_dir inputs."""
    from shapefile_rs_spark import demo
    from shapefile_rs_spark.operators import curation, dedup, graph
    from shapefile_rs_spark.operators.spatial_join import point_in_polygon_join
    from shapefile_rs_spark.pages import geotag_pages, pages_from_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text = docs.select("doc_id", "text").filter(F.col("doc_id") < 200)
    new = text.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10**6).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" sfx")).alias("text"),
    )
    tokens = docs.select("doc_id", "lang", F.col("n_chars").alias("n_tokens"))
    pages = geotag_pages(pages_from_documents(spark, sf_dir)).select("doc_id", "lon", "lat")
    polygons = demo.oracle_polygons_df(spark)
    pip = dict(point_cols=["doc_id"], polygon_cols=["polygon_id"], broadcast_polygons=False)
    return {
        "pip_join_shuffle": lambda: point_in_polygon_join(pages, polygons, **pip),
        "pip_join_salted": lambda: point_in_polygon_join(
            pages, polygons, salt_factor=4, hot_cell_threshold=1, **pip
        ),
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(text.unionByName(new)),
        "minhash_lsh_join": lambda: dedup.minhash_lsh_join(new, text),
        "minhash_lsh_join_corpus_sigs": lambda: dedup.minhash_lsh_join(
            new, corpus_sigs=dedup.minhash_signatures(text)
        ),
        "decontaminate_bloom": lambda: curation.decontaminate_bloom(
            text, text.filter(F.col("doc_id") % 7 == 0), k=3
        ),
        "quality_prune": lambda: curation.quality_prune(
            docs.select("doc_id", "lang", F.col("n_chars").alias("quality")),
            0.3,
            mega_strata_threshold=1,
        ),
        "budget_sample": lambda: curation.budget_sample(tokens, 10**6, mega_strata_threshold=1),
        "seq_pack": lambda: curation.seq_pack(tokens, 64, mega_strata_threshold=1),
        "epoch_order": lambda: curation.epoch_order(docs),
        "domain_rank": lambda: graph.domain_rank(
            docs.select(
                (F.col("doc_id") % 64).alias("src"),
                (F.expr("doc_id * doc_id DIV 64") % 64).alias("dst"),
            ).distinct(),
            iterations=3,
        ),
    }[name]()


@pytest.mark.parametrize(
    "name",
    [
        "minhash_lsh_pairs",
        "minhash_lsh_join",
        "minhash_lsh_join_corpus_sigs",
        "decontaminate_bloom",
        "pip_join_shuffle",
        "pip_join_salted",
        "quality_prune",
        "budget_sample",
        "seq_pack",
        "epoch_order",
        "domain_rank",
    ],
)
def test_operator_result_reads_no_persisted_cache(spark, sf_dir, name, monkeypatch):
    """No operator returns a frame whose plan reads a ``persist()`` cache:
    after the result is materialized, Spark's CacheManager holds no more
    entries than before the call, so no caller ever releases anything."""
    # a driver budget of 0 sends domain_rank down its distributed path
    monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", 0)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    out = _cache_owner_call(name, spark, sf_dir)
    assert out.collect()
    assert cache.numCachedEntries() == before
    assert "InMemoryTableScan" not in out._jdf.queryExecution().executedPlan().toString()


def _failing_call(name, spark, monkeypatch):
    """The operator call ``name`` over an input with one poisoned row: the
    first job that evaluates it raises ``boom``.  The ``knn_join_after_*``
    calls get clean inputs and fail after pass 0 has filled knn_join's
    caches and picked the path: in the broadcast kernel's checkpoint job,
    or building the cell passes' replication map."""
    from shapefile_rs_spark import cells
    from shapefile_rs_spark.operators import dedup, graph, knn

    ids = spark.range(40)

    def boom(c):
        return F.when(F.col("id") == 7, F.raise_error(F.lit("boom"))).otherwise(c)

    def raise_boom(*args):
        raise RuntimeError("boom")

    points = ids.select(
        F.col("id").alias("point_id"),
        boom((F.col("id") % 10).cast("double")).alias("lon"),
        (F.col("id") / 10.0).alias("lat"),
    )
    clean_points = ids.select(
        F.col("id").alias("point_id"),
        (F.col("id") % 10).cast("double").alias("lon"),
        (F.col("id") / 10.0).alias("lat"),
    )
    queries = spark.createDataFrame([(0, 1.0, 1.0)], "query_id long, q_lon double, q_lat double")
    # a query side whose pair work with the 40 points is above knn_join's
    # crossover, so the call takes the cell passes, not the broadcast kernel
    many_queries = spark.range(knn.BRUTE_PAIRS // 40 + 1).select(
        F.col("id").alias("query_id"),
        (F.col("id") % 10).cast("double").alias("q_lon"),
        (F.col("id") % 4).cast("double").alias("q_lat"),
    )
    pairs = ids.select(boom(F.col("id")).alias("id_a"), (F.col("id") + 1).alias("id_b"))
    edges = ids.select(boom(F.col("id") % 8).alias("src"), (F.col("id") * 3 % 8).alias("dst"))
    if name == "knn_join_after_pass0_brute":
        monkeypatch.setattr(knn, "BRUTE_PAIRS", 1 << 62)
        monkeypatch.setattr(
            knn, "dist2_col", lambda lon, *_: F.raise_error(F.format_string("boom %s", lon))
        )
    elif name == "knn_join_after_pass0_cells":
        monkeypatch.setattr(knn, "BRUTE_PAIRS", -1)
        monkeypatch.setattr(cells, "k_ring", raise_boom)
    # the two kNN calls use different res: were one path to leak its point
    # cache, the other's equal plan would hit it instead of adding an entry
    return {
        "knn_join": lambda: knn.knn_join(points, queries, k=2, res=4),
        "knn_join_cells": lambda: knn.knn_join(points, many_queries, k=2, res=5),
        "knn_join_after_pass0_brute": lambda: knn.knn_join(clean_points, queries, k=2, res=4),
        "knn_join_after_pass0_cells": lambda: knn.knn_join(clean_points, queries, k=2, res=4),
        "dedup_clusters": lambda: dedup.dedup_clusters(pairs),
        "domain_rank": lambda: graph.domain_rank(edges),
    }[name]()


@pytest.mark.parametrize(
    "name",
    [
        "knn_join",
        "knn_join_cells",
        "knn_join_after_pass0_brute",
        "knn_join_after_pass0_cells",
        "dedup_clusters",
        "domain_rank",
    ],
)
def test_failed_operator_job_releases_its_caches(spark, name, monkeypatch):
    """An operator whose Spark job fails raises that failure and leaves
    Spark's CacheManager as it found it: every frame it persisted for
    itself is unpersisted on the way out."""
    # a driver budget of 0 sends dedup_clusters and domain_rank down their
    # distributed paths
    monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", 0)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with pytest.raises(Exception, match="boom"):
        _failing_call(name, spark, monkeypatch)
    assert cache.numCachedEntries() == before


def test_multi_stage_pipeline_resume_midway(spark, tmp_path):
    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root)
    pipe.run_stage("a", lambda: spark.range(100))
    a = pipe.run_stage("a", lambda: (_ for _ in ()).throw(AssertionError))
    with pytest.raises(ZeroDivisionError):
        pipe.run_stage("b", lambda: 1 / 0)
    # second run: stage a loads from checkpoint, stage b computes
    pipe2 = CheckpointedPipeline(spark, root)
    a2 = pipe2.run_stage("a", lambda: (_ for _ in ()).throw(AssertionError))
    b = pipe2.run_stage("b", lambda: a2.withColumn("sq", F.col("id") * F.col("id")))
    assert b.count() == 100
    snaps = json.load(open(os.path.join(root, "_manifest.json")))["snapshots"]
    assert len(snaps) == 2
    assert snaps[1]["parent_id"] == snaps[0]["snapshot_id"]


def test_append_delta_anti_join(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe.run_stage("urls", lambda: spark.range(10).select(F.col("id").alias("url_id")))
    merged = pipe.append_delta(
        "urls", spark.range(5, 15).select(F.col("id").alias("url_id")), key_cols=["url_id"]
    )
    assert merged.count() == 15  # 10 existing + 5 genuinely new
    assert merged.select("url_id").distinct().count() == 15
    # idempotent: re-appending the same batch adds nothing
    again = pipe.append_delta(
        "urls", spark.range(5, 15).select(F.col("id").alias("url_id")), key_cols=["url_id"]
    )
    assert again.count() == 15


def test_time_travel_reads_snapshot_file_subset(spark, tmp_path):
    """Appends add files; reading an earlier snapshot sees only the files
    its manifest listed — rows appended later are invisible."""
    from shapefile_rs_spark.lineage import CheckpointedPipeline

    pipe = CheckpointedPipeline(spark, str(tmp_path / "tt"))
    pipe.run_stage("docs", lambda: spark.range(10).withColumnRenamed("id", "k"))
    s1 = pipe.snapshots("docs")[-1]["snapshot_id"]
    pipe.append_delta("docs", spark.range(10, 15).withColumnRenamed("id", "k"), ["k"])
    s2 = pipe.snapshots("docs")[-1]["snapshot_id"]
    assert s1 != s2

    assert pipe.read_snapshot("docs", s1).count() == 10
    assert pipe.read_snapshot("docs", s2).count() == 15
    assert pipe.read_snapshot("docs").count() == 15  # latest by default
    assert sorted(r["k"] for r in pipe.read_snapshot("docs", s1).collect()) == list(range(10))
    import pytest as _pt

    with _pt.raises(KeyError):
        pipe.read_snapshot("docs", "nope")


def test_read_snapshot_legacy_and_overwritten_manifests(spark, tmp_path):
    """Snapshots without a files list (legacy manifests) and snapshots whose
    files a later rerun deleted both fail with a DESCRIPTIVE error, not a
    KeyError / Spark missing-file crash (ADVICE r2)."""
    pipe = CheckpointedPipeline(spark, str(tmp_path))
    pipe.run_stage("s", lambda: spark.range(10))
    # simulate a legacy manifest entry: strip the files list
    with open(pipe.manifest_path) as fh:
        manifest = json.load(fh)
    legacy = dict(manifest["snapshots"][0])
    legacy.pop("files", None)
    legacy["snapshot_id"] = "legacy0"
    manifest["snapshots"].insert(0, legacy)
    with open(pipe.manifest_path, "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="predates file-level manifests"):
        pipe.read_snapshot("s", "legacy0")
    # a stage recompute overwrites the stage's data files: the pre-recompute
    # snapshot must now fail descriptively at read time
    old_snap = pipe.snapshots("s")[-1]["snapshot_id"]
    manifest = json.load(open(pipe.manifest_path))
    del manifest["stages"]["s"]  # force run_stage to recompute+overwrite
    json.dump(manifest, open(pipe.manifest_path, "w"))
    pipe.run_stage("s", lambda: spark.range(5))
    with pytest.raises(ValueError, match="missing file"):
        pipe.read_snapshot("s", old_snap)
    assert pipe.read_snapshot("s").count() == 5
