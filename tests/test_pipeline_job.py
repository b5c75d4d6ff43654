"""End-to-end checkpointed job (jobs/run_pipeline.py): full run, then a
kill-mid-job simulation that must resume without recomputing early stages."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))


def test_full_run_and_resume(spark, sf_dir, tmp_path):
    from run_pipeline import build_args, run

    out = str(tmp_path / "run1")
    args = build_args(["--sf-dir", sf_dir, "--out", out, "--cpus", "4"])
    res = run(spark, args)
    assert res["resumed_stages"] == []
    assert res["pages"] > 0
    assert res["joined_rows"] > 0
    assert res["tile_rows"] > 0
    assert set(res["stages"]) == {"pages", "indexed", "pip", "tiles"}

    # rerun against the same root: everything resumes, nothing recomputes,
    # identical outputs
    res2 = run(spark, args)
    assert res2["resumed_stages"] == ["pages", "indexed", "pip", "tiles"]
    assert res2["joined_rows"] == res["joined_rows"]
    assert res2["wall_sec"] < res["wall_sec"]


def test_kill_midway_resume(spark, sf_dir, tmp_path, monkeypatch):
    from run_pipeline import build_args, run
    from shapefile_rs_spark.lineage import CheckpointedPipeline

    out = str(tmp_path / "run2")
    args = build_args(["--sf-dir", sf_dir, "--out", out, "--cpus", "4"])

    # simulated kill: the pip stage dies on its first attempt
    original = CheckpointedPipeline.run_stage
    state = {"killed": False}

    def flaky(self, stage, build, partition_by=None):
        if stage == "pip" and not state["killed"]:
            state["killed"] = True
            raise RuntimeError("simulated executor loss mid-join")
        return original(self, stage, build, partition_by)

    monkeypatch.setattr(CheckpointedPipeline, "run_stage", flaky)
    with pytest.raises(RuntimeError):
        run(spark, args)
    monkeypatch.setattr(CheckpointedPipeline, "run_stage", original)

    res = run(spark, args)
    # pages + indexed committed before the kill -> resumed; pip/tiles computed
    assert res["resumed_stages"] == ["pages", "indexed"]
    assert res["joined_rows"] > 0


def test_curation_job_run_and_kill_resume(spark, sf_dir, tmp_path, monkeypatch):
    """The curation twin of the flagship job: full run, then a kill at the
    decontam stage must resume features+dedup without recompute."""
    import pytest

    from run_curation import build_args, run
    from shapefile_rs_spark.lineage import CheckpointedPipeline

    out = str(tmp_path / "cur1")
    args = build_args(
        ["--sf-dir", sf_dir, "--out", out, "--cpus", "4", "--host-cap", "20"]
    )
    res = run(spark, args)
    assert res["resumed_stages"] == []
    assert res["docs_in"] > 0 and 0 < res["docs_out"] < res["docs_in"]
    assert set(res["stages"]) == {"features", "dedup", "decontam", "curated"}
    # benchmark members (doc_id % 50 == 0) are never in the curated output
    curated = spark.read.parquet(f"{out}/stages/curated/data")
    assert curated.filter((curated.doc_id % 50) == 0).count() == 0
    # the per-source quota holds in the shipped corpus
    per_src = curated.groupBy("source").count().collect()
    assert per_src and max(r["count"] for r in per_src) <= 20

    out2 = str(tmp_path / "cur2")
    args2 = build_args(
        ["--sf-dir", sf_dir, "--out", out2, "--cpus", "4", "--host-cap", "20"]
    )
    original = CheckpointedPipeline.run_stage
    state = {"killed": False}

    def flaky(self, stage, build, partition_by=None):
        if stage == "decontam" and not state["killed"]:
            state["killed"] = True
            raise RuntimeError("simulated loss mid-decontam")
        return original(self, stage, build, partition_by)

    monkeypatch.setattr(CheckpointedPipeline, "run_stage", flaky)
    with pytest.raises(RuntimeError):
        run(spark, args2)
    monkeypatch.setattr(CheckpointedPipeline, "run_stage", original)
    res2 = run(spark, args2)
    assert res2["resumed_stages"] == ["features", "dedup"]
    assert res2["docs_out"] == res["docs_out"]


def test_curation_job_commits_signature_stage(spark, sf_dir, tmp_path):
    """--sig-stage publishes the curated corpus's (_id, _sig) parquet, and
    a recrawl batch LSH-joins against the committed stage with the corpus
    text never re-read (corpus_sigs= path)."""
    from pyspark.sql import functions as F

    from run_curation import build_args, run
    from shapefile_rs_spark.lineage import CheckpointedPipeline
    from shapefile_rs_spark.operators.dedup import minhash_lsh_join

    out = str(tmp_path / "cur_sigs")
    args = build_args(
        ["--sf-dir", sf_dir, "--out", out, "--cpus", "4", "--sig-stage"]
    )
    res = run(spark, args)
    assert set(res["stages"]) == {
        "features", "dedup", "decontam", "curated", "sigs", "bands"
    }

    pipe = CheckpointedPipeline(spark, out)
    sigs = pipe.run_stage("sigs", lambda: (_ for _ in ()).throw(AssertionError))
    assert sigs.columns == ["_id", "_sig"]
    n_curated = spark.read.parquet(f"{out}/stages/curated/data").count()
    assert sigs.count() == n_curated
    # every signature has the full num_hashes components
    assert sigs.filter(F.size("_sig") != 12).count() == 0
    # the pre-banded twin commits alongside: 4 band rows per doc
    bands = pipe.run_stage("bands", lambda: (_ for _ in ()).throw(AssertionError))
    assert bands.columns == ["_id", "band", "band_key"]
    assert bands.count() == 4 * n_curated

    # a recrawl batch of variants finds its originals via the stages alone
    batch = (
        spark.read.parquet(f"{out}/stages/curated/data")
        .select("doc_id", F.concat(F.col("text"), F.lit(" v2")).alias("text"))
        .limit(30)
    )
    hits = minhash_lsh_join(
        batch, corpus_sigs=sigs, corpus_bands=bands, id_col="doc_id"
    )
    assert hits.filter(F.col("new_id") == F.col("corpus_id")).count() > 0


def test_curation_job_commits_packed_stage(spark, sf_dir, tmp_path):
    """--pack-capacity publishes the training-sequence manifest: every
    curated token lands in exactly one bin, every non-final bin per
    language is exactly full, and a re-run resumes the stage without
    recompute."""
    from pyspark.sql import functions as F

    from run_curation import build_args, run

    out = str(tmp_path / "cur_packed")
    argv = ["--sf-dir", sf_dir, "--out", out, "--cpus", "4",
            "--pack-capacity", "64"]
    res = run(spark, build_args(argv))
    assert set(res["stages"]) == {
        "features", "dedup", "decontam", "curated", "packed"
    }
    packed = spark.read.parquet(f"{out}/stages/packed/data")
    assert set(packed.columns) == {
        "lang", "doc_id", "cum_before", "bin_id", "bin_tokens"
    }
    curated = spark.read.parquet(f"{out}/stages/curated/data")
    # conservation: the manifest carries every curated token exactly once
    total = curated.agg(F.sum("bpe_tokens")).collect()[0][0]
    assert packed.agg(F.sum("bin_tokens")).collect()[0][0] == total
    # every non-final bin per language is exactly full
    bins = packed.groupBy("lang", "bin_id").agg(
        F.sum("bin_tokens").alias("t")
    )
    last = bins.groupBy("lang").agg(F.max("bin_id").alias("last_bin"))
    assert (
        bins.join(last, "lang")
        .filter((F.col("bin_id") != F.col("last_bin")) & (F.col("t") != 64))
        .count()
    ) == 0
    res2 = run(spark, build_args(argv))
    assert "packed" in res2["resumed_stages"]


def test_curation_job_quality_prune_two_phase_default(
    spark, sf_dir, tmp_path, monkeypatch, executed_plans
):
    """The checkpointed pipeline — not just the quality_prune2 query —
    takes the scale-safe two-phase rank by DEFAULT (VERDICT r5 item 3):
    --quality-frac 0.9 with mega_strata_threshold='auto' must route the
    dominant language stratum through the sample-sort exact rank (range
    partition exchange in the pipeline's own plan), and the shipped corpus
    must equal the window-path spelling row-for-row."""
    from pyspark.sql import functions as F

    import shapefile_rs_spark.operators.curation as cur
    from run_curation import _parse_rates, build_args, run

    seen = {}
    orig = cur._quality_prune_two_phase

    def spy(df, frac, strata_col, id_col, order_col, counts):
        # the rank is computed inside the call: read the plans it executed
        out, plans = executed_plans(lambda: orig(df, frac, strata_col, id_col, order_col, counts))
        seen["n"] = seen.get("n", 0) + 1
        seen["plan"] = "\n".join(plans)
        return out

    monkeypatch.setattr(cur, "_quality_prune_two_phase", spy)
    out = str(tmp_path / "cur_q")
    args = build_args(
        ["--sf-dir", sf_dir, "--out", out, "--cpus", "4", "--host-cap", "20"]
    )
    res = run(spark, args)
    # the job ran the two-phase plan (auto threshold fired on the dominant
    # stratum) and its plan carries the sample-sort range exchange
    assert seen.get("n", 0) >= 1
    assert "rangepartitioning" in seen["plan"].lower()
    assert res["docs_out"] > 0

    # identical rows: rebuild the curated keep-set with the WINDOW-path
    # quality_prune over the same committed stages
    flagged = spark.read.parquet(f"{out}/stages/decontam/data")
    survivors = cur.host_cap(
        flagged.filter(F.col("is_keeper") & F.col("is_clean")),
        cap=20, host_col="source", id_col="doc_id", order_col="n_chars",
    ).drop("host_rank")
    pruned = cur.quality_prune(
        survivors, frac=0.9, strata_col="lang", id_col="doc_id",
        order_col="n_chars",
    ).drop("q_rank", "n_stratum")
    expected = cur.stratified_sample(
        pruned, _parse_rates(args.sample), strata_col="lang",
        id_col="doc_id", default_rate=args.sample_default,
    )
    exp_ids = {r.doc_id for r in expected.select("doc_id").collect()}
    got_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/stages/curated/data")
        .select("doc_id").collect()
    }
    assert got_ids == exp_ids and len(got_ids) == res["docs_out"]


def test_curation_job_boiler_and_mixture_stages(spark, sf_dir, tmp_path):
    """--line-prune-max runs boilerplate removal before dedup (cleaned
    text replaces text_redacted for every later stage, with audit
    counts), --mix-budget commits the strata-sized allocation table
    (alloc ≤ available per language, Σalloc ≤ budget), and a re-run
    resumes both stages without recompute."""
    from pyspark.sql import functions as F

    from run_curation import build_args, run

    out = str(tmp_path / "cur_boiler")
    argv = ["--sf-dir", sf_dir, "--out", out, "--cpus", "4",
            "--line-prune-max", "2", "--mix-budget", "100000"]
    res = run(spark, build_args(argv))
    assert set(res["stages"]) == {
        "features", "boiler", "dedup", "decontam", "curated", "mixture"
    }
    boiler = spark.read.parquet(f"{out}/stages/boiler/data")
    assert {"boiler_lines", "boiler_kept", "text_redacted"} <= set(boiler.columns)
    assert boiler.filter(F.col("boiler_kept") > F.col("boiler_lines")).count() == 0
    # the cleaned text really is what downstream shipped: curated text is
    # drawn from the boiler stage's text_redacted (chunked join form)
    assert boiler.count() == res["docs_in"]
    mix = spark.read.parquet(f"{out}/stages/mixture/data")
    assert set(mix.columns) == {
        "lang", "available_tokens", "weight", "target_tokens",
        "alloc_tokens", "deficit",
    }
    rows = mix.collect()
    assert all(r["alloc_tokens"] <= r["available_tokens"] for r in rows)
    assert sum(r["alloc_tokens"] for r in rows) <= 100000
    res2 = run(spark, build_args(argv))
    assert {"boiler", "mixture"} <= set(res2["resumed_stages"])


def test_curation_job_commits_dsir_stage(spark, sf_dir, tmp_path):
    """--dsir-target commits the per-doc importance-weight artifact over
    the CURATED corpus (exactly the curated doc set, int64 micro-units),
    and it equals dsir_weights run directly on the curated stage — the
    job wires the operator, it doesn't reimplement it."""
    from pyspark.sql import functions as F

    from run_curation import build_args, run
    from shapefile_rs_spark.operators.curation import dsir_weights

    out = str(tmp_path / "cur_dsir")
    args = build_args(
        ["--sf-dir", sf_dir, "--out", out, "--cpus", "4", "--dsir-target", "en"]
    )
    res = run(spark, args)
    assert "dsir" in res["stages"]
    curated = spark.read.parquet(f"{out}/stages/curated/data")
    weights = spark.read.parquet(f"{out}/stages/dsir/data")
    assert weights.count() == curated.count() == res["docs_out"]
    direct = {
        r["doc_id"]: r["w_micro"]
        for r in dsir_weights(
            curated.select("doc_id", "lang", "text"),
            target_pred=F.col("lang") == "en",
        ).collect()
    }
    committed = {r["doc_id"]: r["w_micro"] for r in weights.collect()}
    assert committed == direct


def test_curation_job_commits_lm_stage(spark, sf_dir, tmp_path):
    """--lm-vocab-cap commits the per-doc LM-score artifact over the
    CURATED corpus, and it equals lm_score run directly on the curated
    stage — the job wires the operator, it doesn't reimplement it.
    (lm_score drops <2-token docs, so the row count is bounded by, not
    equal to, the curated count.)"""
    from run_curation import build_args, run
    from shapefile_rs_spark.operators.lm import lm_score

    out = str(tmp_path / "cur_lm")
    args = build_args(
        ["--sf-dir", sf_dir, "--out", out, "--cpus", "4", "--lm-vocab-cap", "512"]
    )
    res = run(spark, args)
    assert "lm" in res["stages"]
    curated = spark.read.parquet(f"{out}/stages/curated/data")
    scores = spark.read.parquet(f"{out}/stages/lm/data")
    assert 0 < scores.count() <= curated.count()
    direct = {
        r["doc_id"]: (r["n_bigrams"], r["lm_micro"])
        for r in lm_score(
            curated.select("doc_id", "text"), vocab_cap=512
        ).collect()
    }
    committed = {
        r["doc_id"]: (r["n_bigrams"], r["lm_micro"]) for r in scores.collect()
    }
    assert committed == direct


def test_curation_job_commits_order_stage(spark, sf_dir, tmp_path):
    """--epoch-seed commits the training-order manifest over the CURATED
    corpus: an exact 1..N permutation of exactly the curated doc ids,
    equal to epoch_order run directly on the curated stage."""
    from run_curation import build_args, run
    from shapefile_rs_spark.operators.curation import epoch_order

    out = str(tmp_path / "cur_order")
    args = build_args(
        ["--sf-dir", sf_dir, "--out", out, "--cpus", "4", "--epoch-seed", "ep1"]
    )
    res = run(spark, args)
    assert "order-ep1" in res["stages"]
    curated = spark.read.parquet(f"{out}/stages/curated/data")
    manifest = spark.read.parquet(f"{out}/stages/order-ep1/data")
    n = curated.count()
    rows = manifest.collect()
    assert sorted(r["epoch_pos"] for r in rows) == list(range(1, n + 1))
    direct = {
        r["doc_id"]: r["epoch_pos"]
        for r in epoch_order(curated.select("doc_id"), seed="ep1").collect()
    }
    assert {r["doc_id"]: r["epoch_pos"] for r in rows} == direct
    # a NEW seed against the same --out is a FRESH stage (a re-run must
    # not silently replay the old epoch's permutation) and a bad seed
    # fails at parse time, before any stage runs
    args2 = build_args(
        ["--sf-dir", sf_dir, "--out", out, "--cpus", "4", "--epoch-seed", "ep2"]
    )
    res2 = run(spark, args2)
    assert "order-ep2" in res2["stages"]
    m2 = {
        r["doc_id"]: r["epoch_pos"]
        for r in spark.read.parquet(f"{out}/stages/order-ep2/data").collect()
    }
    assert m2 != {r["doc_id"]: r["epoch_pos"] for r in rows}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="seed"):
        build_args(
            ["--sf-dir", sf_dir, "--out", out, "--epoch-seed", "it's"]
        )
