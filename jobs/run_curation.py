"""End-to-end curation job: documents → features → dedup → decontaminate →
sample → curated corpus.

The training-data twin of jobs/run_pipeline.py: every stage commits through
:class:`CheckpointedPipeline` (Iceberg-style snapshot + per-partition
lineage rows), so a killed run resumes from the last committed stage.
Ships as a plain spark-submit job::

    cd /root/repo && zip -qr /tmp/engine.zip shapefile_rs_spark
    spark-submit --py-files /tmp/engine.zip jobs/run_curation.py \
        --sf-dir /root/testdata/sf0.01 --out /tmp/curation_run \
        [--span-k 5] [--sample en=0.5,de=0.25,es=0.25,fr=0.25,zh=0.25]

Stage DAG (each stage's parquet is the next stage's input — the lineage
checkpoints sit on the critical path, not as dead side writes):

1. ``features``  — map-only: BPE token count, span-dup fraction signal
   inputs, PII match counts + redacted text.  At 100 TB this is the one
   full scan of the corpus.
2. ``dedup``     — exact-dedup keeper per content digest (one digest
   shuffle) + the C4-style span-dup fraction (``--span-k``-word spans
   occurring more than once corpus-wide); flags rather than drops so
   downstream stages can audit.
3. ``decontam``  — benchmark 8-gram overlap via the broadcast hash join
   (the held-out set here: every 50th doc, the documents-table stand-in
   for an eval suite).
4. ``curated``   — apply keep = keeper ∧ ¬contaminated ∧ (optional)
   per-source quota (``--host-cap``: at most N docs per source, best
   n_chars first — the C4/RefinedWeb per-domain cap with the ``source``
   column as the host key) ∧ per-language quality prune
   (``--quality-frac``, default 0.9: keep the best fraction by n_chars;
   ``mega_strata_threshold='auto'`` routes mega strata through the
   two-phase sample-sort exact rank — the scale-safe default plan) ∧
   stratified per-language sample; write the final corpus with redacted
   text.
1b. ``boiler``  — (``--line-prune-max N``) line-frequency boilerplate
   removal BEFORE dedup (the CCNet order): 8-word chunks appearing in
   ≥ N distinct docs drop everywhere; the cleaned text replaces
   ``text_redacted`` for every later stage.
5. ``packed``   — (``--pack-capacity N``) the curated corpus's
   training-sequence manifest: seq_pack cuts each language's md5-ordered
   token stream every N tokens (one row per doc×bin overlap, every
   non-final bin exactly full) — the batch-construction endpoint a
   trainer reads directly.
5b. ``mixture`` — (``--mix-budget N``) mix_temp's temperature-scaled
   per-language allocation table over the curated corpus — the
   strata-sized planning artifact a trainer's sampler reads.
5c. ``dsir``    — (``--dsir-target LANG``) per-doc exact-integer DSIR
   importance weights of the curated text against the target language's
   hashed token distribution — the resampling artifact the sampler
   multiplies against the mixture allocation.
5d. ``lm``      — (``--lm-vocab-cap V``) per-doc bigram stupid-backoff
   LM scores (exact-integer micro-probabilities) of the curated text
   against a model trained on the curated corpus itself — the
   perplexity-filter artifact a final quality gate thresholds.
5e. ``order``   — (``--epoch-seed S``) the curated corpus's deterministic
   training-order manifest (exact global positions over an md5(S:id)
   permutation, two-phase sample-sort rank — no single-task window);
   re-running with a new seed is the next epoch's shuffle.
6. ``sigs`` + ``bands`` — (``--sig-stage``) the curated corpus's MinHash
   signature parquet and its pre-banded ``(_id, band, band_key)`` twin,
   the published artifacts future recrawl batches LSH-join against
   (``minhash_lsh_join(corpus_sigs=..., corpus_bands=...)``) without
   re-reading — or re-banding — this corpus's text.

Prints one JSON line: per-stage rows/wall-times, kept/dropped breakdown.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F


def _parse_rates(spec: str) -> dict:
    out = {}
    for part in spec.split(","):
        lang, rate = part.split("=")
        out[lang.strip()] = float(rate)
    return out


def build_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--out", required=True, help="checkpoint/output root")
    p.add_argument("--span-k", type=int, default=5)
    p.add_argument("--ngram-k", type=int, default=8)
    p.add_argument(
        "--sample",
        default="en=0.75,de=0.75,es=0.75,fr=0.75,zh=0.75",
        help="per-language keep rates lang=rate[,lang=rate...]",
    )
    p.add_argument(
        "--sample-default",
        type=float,
        default=1.0,
        help="keep rate for languages NOT listed in --sample (1.0 keeps "
        "them all; the silent-drop default would be a data-loss trap)",
    )
    p.add_argument(
        "--host-cap",
        type=int,
        default=0,
        help="keep at most N docs per source (host analog), ranked by "
        "n_chars desc then doc_id; 0 disables the quota",
    )
    p.add_argument(
        "--quality-frac",
        type=float,
        default=0.9,
        help="keep the best FRAC of quota/flag survivors per language by "
        "n_chars (FineWeb-style percentile prune). Runs the scale-safe "
        "plan by default: mega_strata_threshold='auto' routes any "
        "stratum above a partition's fair share through the two-phase "
        "sample-sort exact rank, so a 10 TB 'en' stratum never "
        "serializes through one window task. 1.0 disables the prune "
        "(every rank passes the ceil(n*1.0) threshold)",
    )
    p.add_argument(
        "--sig-stage",
        action="store_true",
        help="also commit the corpus MinHash signature stage ('sigs'): the "
        "(_id, _sig) parquet that future recrawl batches LSH-join against "
        "via minhash_lsh_join(corpus_sigs=...) without re-reading this "
        "corpus's text",
    )
    p.add_argument(
        "--pack-capacity",
        type=int,
        default=0,
        help="also commit the 'packed' stage: the curated corpus's "
        "training-sequence manifest (seq_pack at this token capacity — "
        "one row per doc×bin overlap, every non-final bin exactly full, "
        "deterministic at any partitioning); 0 disables",
    )
    p.add_argument(
        "--line-prune-max",
        type=int,
        default=0,
        help="also run the 'boiler' stage BEFORE dedup (the CCNet order): "
        "re-delimit each doc's redacted text into 8-word chunks and drop "
        "every chunk appearing in >= N distinct docs — boilerplate keeps "
        "no winner; downstream stages (digest dedup, decontam, BPE "
        "accounting on the curated text) see the cleaned text; 0 disables",
    )
    p.add_argument(
        "--mix-budget",
        type=int,
        default=0,
        help="also commit the 'mixture' stage: mix_temp's temperature-"
        "scaled (alpha=1/2) per-language allocation table over the "
        "curated corpus's BPE token counts — the strata-sized planning "
        "artifact a trainer's sampler reads; 0 disables",
    )
    p.add_argument(
        "--dsir-target",
        default="",
        help="also commit the 'dsir' stage: per-doc importance weights "
        "(exact-integer micro-units) of the curated corpus against the "
        "named target language's hashed token distribution — the "
        "resampling artifact a trainer's sampler reads next to the "
        "mixture table; empty disables",
    )
    p.add_argument(
        "--lm-vocab-cap",
        type=int,
        default=0,
        help="also commit the 'lm' stage: per-doc bigram stupid-backoff "
        "LM scores (exact-integer micro-units, model capped at this "
        "vocabulary size) over the curated corpus — the perplexity-"
        "filter artifact a final quality gate thresholds; 0 disables",
    )
    p.add_argument(
        "--epoch-seed",
        default="",
        help="also commit the 'order' stage: the curated corpus's "
        "deterministic training-order manifest under this epoch seed "
        "(exact global positions, two-phase sample-sort rank); empty "
        "disables",
    )
    p.add_argument("--minhash-k", type=int, default=3)
    p.add_argument("--num-hashes", type=int, default=12)
    p.add_argument(
        "--bands",
        type=int,
        default=4,
        help="LSH band count for the committed 'bands' stage (written "
        "alongside 'sigs' when --sig-stage is set; recrawl joins pass it "
        "as corpus_bands= and never re-band the corpus)",
    )
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = p.parse_args(argv)
    if args.epoch_seed:
        # fail in milliseconds, not after hours of upstream stages: the
        # seed is embedded in the committed stage name and (in the
        # oracle twin) a SQL literal
        from shapefile_rs_spark.operators.curation import _check_epoch_seed

        _check_epoch_seed(args.epoch_seed)
    return args


def run(spark, args) -> dict:
    from shapefile_rs_spark.lineage import CheckpointedPipeline
    from shapefile_rs_spark.operators.curation import (
        bpe_token_count,
        decontaminate,
        redact_pii,
        stratified_sample,
    )

    pipe = CheckpointedPipeline(spark, args.out)
    t_all = time.time()
    stage_names = (
        ("features",)
        + (("boiler",) if args.line_prune_max else ())
        + ("dedup", "decontam", "curated")
        + (("packed",) if args.pack_capacity else ())
        + (("mixture",) if args.mix_budget else ())
        + (("dsir",) if args.dsir_target else ())
        + (("lm",) if args.lm_vocab_cap else ())
        + ((f"order-{args.epoch_seed}",) if args.epoch_seed else ())
        + (("sigs", "bands") if args.sig_stage else ())
    )
    already_done = [s for s in stage_names if pipe.completed(s)]

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")

    def stage_features():
        with_pii = redact_pii(docs)
        return with_pii.select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            "text",
            F.col("text_redacted"),
            "n_emails",
            "n_phones",
            bpe_token_count(F.col("text")).alias("bpe_tokens"),
        )

    feats = pipe.run_stage("features", stage_features)

    if args.line_prune_max:
        # boilerplate removal BEFORE dedup (the CCNet order: chrome and
        # banners would otherwise dominate digests and span counts).  The
        # pruned text replaces text_redacted — the column every later
        # stage ships — so the whole DAG downstream sees cleaned text;
        # the join back is one doc_id exchange (ids are unique, the
        # features stage's contract).
        def stage_boiler():
            from shapefile_rs_spark.operators.dedup import chunk_words, line_prune

            chunked = feats.select(
                "doc_id", chunk_words(F.col("text_redacted"), 8).alias("_t")
            )
            pruned = line_prune(
                chunked,
                id_col="doc_id",
                text_col="_t",
                max_docs=args.line_prune_max,
            )
            return feats.drop("text_redacted").join(
                pruned.select(
                    "doc_id",
                    F.col("n_lines").alias("boiler_lines"),
                    F.col("n_kept").alias("boiler_kept"),
                    F.col("text_clean").alias("text_redacted"),
                ),
                "doc_id",
                "inner",
            )

        feats = pipe.run_stage("boiler", stage_boiler)

    def stage_dedup():
        from shapefile_rs_spark.operators.dedup import span_dedup_stats

        w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
            F.col("doc_id").asc()
        )
        flagged = feats.withColumn("_rn", F.row_number().over(w)).select(
            "*", (F.col("_rn") == 1).alias("is_keeper")
        ).drop("_rn")
        spans = span_dedup_stats(
            feats.select("doc_id", "text"), id_col="doc_id", k=args.span_k
        ).select("doc_id", "dup_frac")
        return flagged.join(spans, "doc_id", "left").withColumnRenamed(
            "dup_frac", "span_dup_frac"
        )

    deduped = pipe.run_stage("dedup", stage_dedup)

    def stage_decontam():
        bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
        flags = decontaminate(
            deduped.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text"),
            bench,
            k=args.ngram_k,
        )
        # benchmark members themselves are never training docs; a doc the
        # decontaminate stage never saw (null flag) defaults to NOT clean
        return (
            deduped.join(flags.select("doc_id", "contaminated"), "doc_id", "left")
            .withColumn(
                "is_clean",
                (F.col("doc_id") % 50 != 0)
                & ~F.coalesce(F.col("contaminated"), F.lit(True)),
            )
            .drop("contaminated")
        )

    flagged = pipe.run_stage("decontam", stage_decontam)

    rates = _parse_rates(args.sample)

    def stage_curated():
        survivors = flagged.filter(F.col("is_keeper") & F.col("is_clean"))
        if args.host_cap:
            from shapefile_rs_spark.operators.curation import host_cap

            # quota AFTER the flag filters (rank only docs that can ship),
            # BEFORE sampling (the sample rate then applies uniformly to
            # quota survivors — sampling first would under-fill small hosts)
            survivors = host_cap(
                survivors,
                cap=args.host_cap,
                host_col="source",
                id_col="doc_id",
                order_col="n_chars",
            ).drop("host_rank")
        if args.quality_frac < 1.0:
            from shapefile_rs_spark.operators.curation import quality_prune

            # percentile prune AFTER the quota (rank only quota survivors),
            # BEFORE sampling (same uniform-rate reasoning as host_cap).
            # 'auto' takes the two-phase exact rank whenever a language
            # stratum exceeds a partition's fair share — the default plan
            # a 100 TB run needs, exercised here at every scale
            survivors = quality_prune(
                survivors,
                frac=args.quality_frac,
                strata_col="lang",
                id_col="doc_id",
                order_col="n_chars",
                mega_strata_threshold="auto",
            )
            survivors = survivors.drop("q_rank", "n_stratum")
        sampled = stratified_sample(
            survivors, rates, strata_col="lang", id_col="doc_id",
            default_rate=args.sample_default,
        )
        return sampled.select(
            "doc_id", "lang", "source", "n_chars", "bpe_tokens", "span_dup_frac",
            F.col("text_redacted").alias("text"),
        )

    curated = pipe.run_stage("curated", stage_curated)

    if args.pack_capacity:
        from shapefile_rs_spark.operators.curation import seq_pack

        def stage_packed():
            # the training-sequence manifest over the curated corpus:
            # 'auto' routes a mega language stratum through the two-phase
            # exact prefix sum, same as the quality prune above
            return seq_pack(
                curated.select("doc_id", "lang", "bpe_tokens"),
                capacity=args.pack_capacity,
                tokens_col="bpe_tokens",
                mega_strata_threshold="auto",
            )

        pipe.run_stage("packed", stage_packed)

    if args.mix_budget:
        # the strata-sized mixture planning artifact: what each language
        # HAS in the curated corpus and what a sqrt-scaled sampler should
        # TAKE of the token budget — read by a trainer, not by this DAG
        def stage_mixture():
            from shapefile_rs_spark.operators.curation import mix_temp

            return mix_temp(
                curated.select("lang", F.col("bpe_tokens").alias("n_tokens")),
                args.mix_budget,
                strata_col="lang",
            )

        pipe.run_stage("mixture", stage_mixture)

    if args.dsir_target:
        # per-doc resampling weights over the CURATED text (post-redact/
        # boiler): the sampler multiplies these against the mixture
        # allocation — committed like every artifact, so a resumed run
        # never re-tokenizes
        def stage_dsir():
            from shapefile_rs_spark.operators.curation import dsir_weights

            # curated already carries the redacted/boiler-cleaned text AS
            # `text` — weight exactly what ships
            return dsir_weights(
                curated.select("doc_id", "lang", "text"),
                target_pred=F.col("lang") == args.dsir_target,
            )

        pipe.run_stage("dsir", stage_dsir)

    if args.lm_vocab_cap:
        # LM quality scores over the CURATED text: the model trains on
        # what ships, so the score is a self-perplexity — low scorers are
        # the corpus's own outliers (the CCNet filter run at the end of
        # the pipeline instead of the start)
        def stage_lm():
            from shapefile_rs_spark.operators.lm import lm_score

            return lm_score(
                curated.select("doc_id", "text"), vocab_cap=args.lm_vocab_cap
            )

        pipe.run_stage("lm", stage_lm)

    if args.epoch_seed:
        # the trainer's read order over the curated corpus — committed so
        # a resumed run (or a second trainer) streams the identical epoch.
        # The stage name CARRIES the seed (the dsir "-b{n_buckets}" move):
        # a re-run with a new seed starts a fresh stage instead of
        # silently returning the previous epoch's permutation.
        def stage_order():
            from shapefile_rs_spark.operators.curation import epoch_order

            return epoch_order(curated.select("doc_id"), seed=args.epoch_seed)

        pipe.run_stage(f"order-{args.epoch_seed}", stage_order)

    if args.sig_stage:
        # published artifacts, not inputs to this run's stages: the NEXT
        # run's recrawl batches join their signatures against this
        # committed parquet (minhash_lsh_join(corpus_sigs=..., optionally
        # corpus_bands=...)) instead of re-hashing — or re-banding — the
        # curated corpus text
        from shapefile_rs_spark.operators.dedup import (
            minhash_band_rows,
            minhash_signatures,
        )

        sigs = pipe.run_stage(
            "sigs",
            lambda: minhash_signatures(
                curated.select("doc_id", "text"),
                id_col="doc_id",
                text_col="text",
                k=args.minhash_k,
                num_hashes=args.num_hashes,
            ),
        )
        # derived from the committed sigs parquet, never from text: a
        # resumed run re-bands only if this stage itself is missing
        pipe.run_stage(
            "bands",
            lambda: minhash_band_rows(sigs, args.num_hashes, args.bands),
        )

    lineage = pipe.lineage()
    by_stage = {}
    for r in lineage:
        s = by_stage.setdefault(r["stage"], {"rows": 0, "partitions": 0, "wall_ms": r["wall_ms"]})
        s["rows"] += r["output_rows"]
        s["partitions"] += 1
    n_in = by_stage.get("features", {}).get("rows", 0)
    n_out = by_stage.get("curated", {}).get("rows", 0)
    return {
        "stages": by_stage,
        "docs_in": n_in,
        "docs_out": n_out,
        "kept_frac": round(n_out / n_in, 4) if n_in else None,
        "wall_sec": round(time.time() - t_all, 3),
        "resumed_stages": already_done,
    }


def main():
    args = build_args()
    from shapefile_rs_spark.session import get_spark

    spark = get_spark(app_name="run_curation", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, args)))
    spark.stop()


if __name__ == "__main__":
    main()
