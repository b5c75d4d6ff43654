"""LM operators: bigram stupid-backoff scoring (lm_score) and BPE merge
learning (bpe_learn) — semantics, engine-exact DuckDB twins, scale-shape
plan pins (operators/lm.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from shapefile_rs_spark.operators.lm import (
    bpe_learn,
    bpe_learn_sql,
    lm_score,
    lm_score_sql,
)


def test_lm_score_semantics(spark):
    """Hand-computed fixed-point contributions: in-model bigram, unigram
    backoff, and the floor; <2-token docs drop out entirely."""
    rows = [
        (0, "a b a b a"),          # bigrams: ab×2, ba×2
        (1, "a b zzz"),            # ab (in model), b->zzz (backoff path)
        (2, "solo"),               # 1 token: excluded
        (3, "  "),                 # empty after trim: excluded
        (4, "zzz zzz zzz zzz"),    # makes zzz a common UNIGRAM
    ]
    # corpus: tokens a×4 b×3 zzz×5 solo×1 ''×1 -> total 14
    # bigrams: ab×3 ba×2 (b,zzz)×1 (zzz,zzz)×3
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in lm_score(docs, vocab_cap=16).collect()}
    assert set(out) == {0, 1, 4}
    # p(ab)=3e6 DIV 4=750000, p(ba)=2e6 DIV 3=666666
    assert out[0]["n_bigrams"] == 4
    assert out[0]["lm_micro"] == (750_000 * 2 + 666_666 * 2) // 4
    # cap=16: (b,zzz) IS in the bigram model: p=1e6 DIV 3=333333
    assert out[1]["lm_micro"] == (750_000 + 333_333) // 2
    # cap=3 bigram model = {ab(3), (zzz,zzz)(3), ba(2)} — (b,zzz) evicted;
    # unigram model = {zzz(5), a(4), b(3)} keeps zzz, so b->zzz backs off
    # to ((5*1e6) DIV 14) DIV 10 = 35714
    out2 = {r["doc_id"]: r for r in lm_score(docs, vocab_cap=3).collect()}
    assert out2[1]["lm_micro"] == (750_000 + 35_714) // 2
    assert out2[0]["lm_micro"] == (750_000 * 2 + 666_666 * 2) // 4
    # cap=1: bigram model = {ab} (count tie 3 breaks to w1 'a' < 'zzz'),
    # unigram model = {zzz} — doc 0's ba pairs miss BOTH and floor at 1
    out3 = {r["doc_id"]: r for r in lm_score(docs, vocab_cap=1).collect()}
    assert out3[0]["lm_micro"] == (750_000 * 2 + 1 * 2) // 4
    assert out3[1]["lm_micro"] == (750_000 + 35_714) // 2


def test_lm_score_oracle_twin(spark, sf_dir):
    """Bit-exact vs the DuckDB twin on the real fixture corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["doc_id"], r["n_bigrams"], r["lm_micro"])
        for r in lm_score(docs).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = {tuple(r) for r in con.sql(lm_score_sql()).fetchall()}
    assert got == want and len(got) > 0


def test_lm_score_scoring_plan_shape(spark, sf_dir):
    """Scale-shape pin: the scoring job never re-scans the corpus — it
    reads the ONE checkpointed bigram-pair frame (r7: the tokenize +
    slice/zip pass used to run twice, once for the model and once for
    scoring), and both model joins are broadcast — no corpus-keyed
    shuffle before the per-doc aggregation."""
    from tests.plans import executed_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = executed_plan(lm_score(docs))
    assert plan.count("Scan parquet") == 0, plan  # no corpus re-scan
    # the pair checkpoint + the two (broadcast) model checkpoints
    assert plan.count("Scan ExistingRDD") == 3, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_learn_semantics(spark):
    """Known merge sequence, weighted counts, adjacent-run handling, and
    symbol composition across rounds."""
    # word table: 'abab' cnt 3, 'aaa' cnt 2, 'xy' cnt 1.
    # round 1 pairs: (a,b)=2·3=6, (b,a)=1·3=3, (a,a)=2·2=4, (x,y)=1
    #   -> winner (a,b) 6.
    # round 2: 'ab ab' gives (ab,ab)=3; 'a a a' still gives (a,a)=4
    #   -> winner (a,a) 4.
    # round 3: 'aa a' (left-to-right merge) gives (aa,a)=2; (ab,ab)=3
    #   -> winner (ab,ab) 3.
    rows = [(0, "abab abab abab aaa aaa xy")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = bpe_learn(docs, n_merges=3, max_words=8).collect()
    got = [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"]) for r in out]
    assert got == [(1, "a", "b", 6), (2, "a", "a", 4), (3, "ab", "ab", 3)]
    # exhaustion raises loudly, not silently short
    with pytest.raises(ValueError, match="exhausted"):
        bpe_learn(docs, n_merges=10, max_words=8)
    with pytest.raises(ValueError, match="n_merges"):
        bpe_learn(docs, n_merges=0)


def test_bpe_learn_charset_guard_and_cap(spark):
    """Non-[a-z0-9] tokens (the SQL-literal injection surface) never
    enter the word table; the word cap keeps the top-W by (cnt, word)."""
    rows = [
        (0, "it's \"quoted\" café a'b ab ab cd"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = bpe_learn(docs, n_merges=1, max_words=8).collect()
    # only 'ab' (x2) and 'cd' survive the charset filter; winner (a,b)=2
    assert [(r["lhs"], r["rhs"], r["pair_count"]) for r in out] == [("a", "b", 2)]
    # max_words=1 keeps just 'ab' (count 2 beats cd's 1)
    out2 = bpe_learn(docs, n_merges=1, max_words=1).collect()
    assert [(r["lhs"], r["rhs"], r["pair_count"]) for r in out2] == [("a", "b", 2)]


def test_lm_score_incremental_matches_from_scratch(spark, sf_dir):
    """The incr_* contract: batch scores against the merged registry ==
    full-corpus lm_score restricted to batch docs; count deltas are
    additive (sum-merge == from-scratch); the scoring plan cannot reach
    the corpus (registry frames are materialized — only the batch scan
    appears)."""
    from shapefile_rs_spark.operators.lm import (
        lm_bigram_counts,
        lm_score,
        lm_score_incremental,
        lm_unigram_counts,
    )
    from tests.plans import executed_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    uni_reg = lm_unigram_counts(corpus).localCheckpoint(eager=True)
    big_reg = lm_bigram_counts(corpus).localCheckpoint(eager=True)
    scores, uni_d, big_d = lm_score_incremental(batch, uni_reg, big_reg)
    got = {tuple(r) for r in scores.collect()}
    want = {
        tuple(r)
        for r in lm_score(docs).filter(F.col("doc_id") % 5 == 0).collect()
    }
    assert got == want and len(got) > 0
    # the scoring plan reaches NEITHER the corpus NOR a batch re-scan:
    # the checkpointed batch pair frame is the only data-sized input
    # (r7 — the batch used to re-tokenize inside the scoring job)
    # (post-collect the AQE string repeats scans in its Initial Plan
    # section — count the final section only)
    plan = executed_plan(scores).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 0, plan
    # additivity: registry ∪ delta sum-merged == from-scratch counts
    merged = (
        uni_reg.unionByName(uni_d)
        .groupBy("w")
        .agg(F.sum("c_uni").alias("c_uni"))
    )
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in lm_unigram_counts(docs).collect()
    }
    merged_big = (
        big_reg.unionByName(big_d)
        .groupBy("w1", "w2")
        .agg(F.sum("c_big").alias("c_big"))
    )
    assert {tuple(r) for r in merged_big.collect()} == {
        tuple(r) for r in lm_bigram_counts(docs).collect()
    }


def test_bpe_encode_semantics(spark):
    """Symbol counts shrink exactly by one per merge application; merges
    compose left-to-right; non-trainable tokens are excluded from both
    counts; merge symbols are charset-validated."""
    from shapefile_rs_spark.operators.lm import bpe_encode

    rows = [(0, "abab aaa it's xy"), (1, "zz")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    # no merges: symbols == chars of trainable tokens
    out0 = {r["doc_id"]: r for r in bpe_encode(docs, []).collect()}
    assert (out0[0]["n_words"], out0[0]["n_bpe_sym"]) == (3, 9)  # abab+aaa+xy
    assert (out0[1]["n_words"], out0[1]["n_bpe_sym"]) == (1, 2)
    # (a,b) then (ab,ab): 'abab' -> 'ab ab' -> 'abab' = 1 symbol;
    # 'aaa' unaffected (3), 'xy' 2, 'zz' 2
    out = {
        r["doc_id"]: r
        for r in bpe_encode(docs, [("a", "b"), ("ab", "ab")]).collect()
    }
    assert out[0]["n_bpe_sym"] == 1 + 3 + 2
    assert out[1]["n_bpe_sym"] == 2
    with pytest.raises(ValueError, match="a-z0-9"):
        bpe_encode(docs, [("a", "b'c")])


def test_bpe_learn_oracle_twin(spark, sf_dir):
    """Bit-exact vs the DuckDB unrolled-CTE twin on the fixture corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_learn(docs).collect()
    ]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.sql(bpe_learn_sql()).fetchall())
    assert sorted(got) == want and len(got) == 8
    # learned symbols grow: at least one late merge consumes an earlier
    # merge's output (multi-char side) — the composition property
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _ in got)


def test_bpe_encode_oracle_twin(spark, sf_dir):
    """Learn-then-encode matches the SQL twin that re-derives the merges
    inside DuckDB and applies them as nested scalar-subquery replaces."""
    from shapefile_rs_spark.operators.lm import (
        bpe_encode,
        bpe_encode_sql,
        bpe_learn,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_learn(docs).orderBy("merge_rank").collect()
    ]
    got = {
        (r["doc_id"], r["n_words"], r["n_bpe_sym"])
        for r in bpe_encode(docs, merges).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = {tuple(r) for r in con.sql(bpe_encode_sql()).fetchall()}
    assert got == want and len(got) > 0
    # encoding with the learned merges strictly compresses vs no merges
    base = {
        r["doc_id"]: r["n_bpe_sym"] for r in bpe_encode(docs, []).collect()
    }
    assert all(n < base[i] for (i, _, n) in got)


def test_dedup_recall_telemetry(spark, sf_dir):
    """The planted (2d, 2d+1) near-dup pairs are overwhelmingly
    recovered by LSH at fixture scale (the telemetry's reason to exist),
    and the result plan reads the checkpointed pair list — ONE documents
    scan, no re-run of the minhash pipeline per derived frame."""
    import __spark_entry__ as E
    from tests.plans import executed_plan

    out = E.q_dedup_recall(spark, sf_dir)
    plan = executed_plan(out).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan
    rows = out.collect()
    n = len(rows)
    hits = sum(r["planted_hit"] for r in rows)
    assert n > 0 and hits >= 0.9 * n, (hits, n)
    # partner counts include at least the planted partner on every hit
    assert all(
        r["pred_partners"] >= r["planted_hit"] for r in rows
    )


def test_hardneg_label_constraint(spark, sf_dir):
    """Hard negatives never share the query's label, match the numpy
    brute force under the same (cos desc, vec_id) order, and differ from
    unconstrained top-k whenever a same-label vector would have ranked."""
    import numpy as np

    import __spark_entry__ as E
    from shapefile_rs_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    labels = {r["vec_id"]: r["label"] for r in rows}
    M = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    Mn = M / np.sqrt((M * M).sum(axis=1))[:, None]

    out = E.q_hardneg(spark, sf_dir).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"]))
    assert set(got) == {0, 1, 2, 3}
    for qid, hits in got.items():
        # constraint: no negative shares the query's label
        assert all(labels[v] != labels[qid] for _, v in hits)
        # brute force with the same tie-break
        qv = Mn[ids == qid][0]
        s = Mn @ qv
        mask = np.array([labels[i] != labels[qid] for i in ids])
        order = np.lexsort((ids[mask], -s[mask]))[:3]
        want = list(ids[mask][order])
        assert [v for _, v in sorted(hits)] == want, (qid, hits, want)


def test_tfidf_semantics(spark):
    """Hand-computed tf-idf: rare terms outrank common ones, tf scales
    linearly, ties break to the lexicographically smaller term, and the
    empty corpus raises."""
    from shapefile_rs_spark.operators.retrieval import tfidf_topk

    rows = [
        (0, "common rare rare"),
        (1, "common common zz"),
        (2, "common"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {}
    for r in tfidf_topk(docs, k=2).collect():
        out.setdefault(r["doc_id"], []).append((r["rnk"], r["term"], r["tfidf_micro"]))
    # N=3; df(common)=3 -> idf=(3-3+0.5)/3.5=1/7; df(rare)=1 -> idf=2.5/1.5
    # doc0: rare tf=2 -> floor(2*(2.5/1.5)*1e6)=3333333 > common 142857
    assert out[0][0][1:] == ("rare", 3333333)
    assert out[0][1][1:] == ("common", 142857)
    # doc1: zz tf=1 idf=2.5/1.5 -> 1666666 > common tf=2 -> 285714
    assert out[1][0][1:] == ("zz", 1666666)
    assert out[1][1][1:] == ("common", 285714)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty corpus"):
        tfidf_topk(docs.filter(F.col("doc_id") < 0))


def test_tfidf_oracle_twin_and_plan(spark, sf_dir):
    """Bit-exact vs the DuckDB twin; the (doc, term, tf) frame is
    checkpointed, so the scoring plan holds NO corpus re-scan."""
    import __spark_entry__ as E
    from shapefile_rs_spark.operators.retrieval import tfidf_topk, tfidf_topk_sql
    from tests.plans import executed_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = tfidf_topk(docs, k=3)
    plan = executed_plan(out).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 0, plan  # dt is an ExistingRDD
    got = {tuple(r) for r in out.collect()}
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = {tuple(r) for r in con.sql(tfidf_topk_sql(k=3)).fetchall()}
    assert got == want and len(got) > 0


def test_epoch_shuffle_manifest(spark, sf_dir):
    """The epoch manifest is an exact permutation: positions are exactly
    1..N, a different seed yields a different order, the same seed is
    stable, and the ranks match the naive window spelling (the two-phase
    path is pinned equal by quality_prune's own tests)."""
    from shapefile_rs_spark.operators.curation import epoch_order

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    m1 = {r["doc_id"]: r["epoch_pos"] for r in epoch_order(docs).collect()}
    assert sorted(m1.values()) == list(range(1, n + 1))
    # deterministic: same seed, same order
    m1b = {r["doc_id"]: r["epoch_pos"] for r in epoch_order(docs).collect()}
    assert m1 == m1b
    # reshuffled: another seed moves most docs
    m2 = {
        r["doc_id"]: r["epoch_pos"]
        for r in epoch_order(docs, seed="epoch2").collect()
    }
    assert sorted(m2.values()) == list(range(1, n + 1))
    moved = sum(1 for d in m1 if m1[d] != m2[d])
    assert moved > 0.9 * n, moved
    # window spelling agrees (the naive oracle re-spelled in Spark)
    want = {
        r["doc_id"]: r["epoch_pos"]
        for r in spark.sql(
            "SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY "
            "md5(concat('epoch1:', CAST(doc_id AS STRING))) DESC, doc_id ASC)"
            " AS BIGINT) AS epoch_pos FROM {d}",
            d=docs,
        ).collect()
    }
    assert m1 == want


def test_review_fix_regressions(spark, sf_dir):
    """Pins for the round's review findings: NULL corpus labels never
    rank (SQL <> semantics), NULL query labels raise, empty-corpus
    lm_score raises loudly, epoch seeds are charset-guarded, and
    epoch_pos is BIGINT."""
    from pyspark.sql.types import LongType

    from shapefile_rs_spark.operators.curation import epoch_order, epoch_order_sql
    from shapefile_rs_spark.operators.lm import lm_score
    from shapefile_rs_spark.operators.similarity import cosine_topk_labeled

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0], 7), (1, [1.0, 0.01], 7), (2, [1.0, 0.02], None),
         (3, [0.0, 1.0], 8)],
        "vec_id bigint, embedding array<double>, label int",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0], 7)],
        "query_id bigint, q_embedding array<double>, q_label int",
    )
    got = [r["vec_id"] for r in cosine_topk_labeled(vecs, qs, k=3).collect()]
    # vec 1 shares the label (out), vec 2 has NULL label (out, <> is NULL)
    assert got == [3], got
    qs_null = spark.createDataFrame(
        [(0, [1.0, 0.0], None)],
        "query_id bigint, q_embedding array<double>, q_label int",
    )
    with pytest.raises(ValueError, match="NULL"):
        cosine_topk_labeled(vecs, qs_null, k=3)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="empty corpus"):
        lm_score(docs.filter(F.col("doc_id") < 0))

    with pytest.raises(ValueError, match="seed"):
        epoch_order(docs, seed="x'; DROP TABLE documents; --")
    with pytest.raises(ValueError, match="seed"):
        epoch_order_sql(seed="it's")
    out = epoch_order(docs.limit(10))
    assert isinstance(out.schema["epoch_pos"].dataType, LongType)

    from shapefile_rs_spark.operators.curation import (
        curation_funnel,
        curation_funnel_sql,
    )

    with pytest.raises(ValueError, match="language tags"):
        curation_funnel(docs, langs=("en", "it's"))
    with pytest.raises(ValueError, match="language tags"):
        curation_funnel_sql(langs=("en", "it's"))


@pytest.mark.parametrize("path", ["epoch_order", "segmented_scan_weighted"])
def test_scan_empty_frame_keeps_schema(spark, sf_dir, path):
    """An empty input through the direct segmented-scan path returns an
    empty frame with the full schema: epoch_order's (doc_id, epoch_pos
    BIGINT), and a weighted scan's input columns + scan_before BIGINT."""
    from pyspark.sql.types import LongType

    from shapefile_rs_spark.operators.curation import epoch_order
    from shapefile_rs_spark.operators.scan import SCAN_COL, segmented_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 0
    )
    if path == "epoch_order":
        out = epoch_order(docs)
        cols, value_col = ["doc_id", "epoch_pos"], "epoch_pos"
    else:
        out = segmented_scan(
            docs.select("doc_id", "lang", "n_chars"), "lang",
            [F.col("n_chars").desc()], "doc_id", weight_col="n_chars",
        )
        cols, value_col = ["doc_id", "lang", "n_chars", SCAN_COL], SCAN_COL
    assert out.columns == cols
    assert isinstance(out.schema[value_col].dataType, LongType)
    assert out.collect() == []


def test_curation_funnel_monotone(spark, sf_dir):
    """Funnel counts are monotone non-increasing by construction, the
    total equals the corpus count, each stage's count equals the direct
    filter count, and the whole thing is ONE scan."""
    from shapefile_rs_spark.operators.curation import curation_funnel
    from tests.plans import executed_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation_funnel(docs)
    plan = executed_plan(out).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan
    got = {r["stage"]: r["n_docs"] for r in out.collect()}
    order = ["total", "min_chars", "min_tokens", "lang", "no_pii"]
    vals = [got[s] for s in order]
    assert vals[0] == docs.count()
    assert all(a >= b for a, b in zip(vals, vals[1:])), vals
    direct = docs.filter(
        (F.col("n_chars") >= 200)
        & (F.expr("size(split(trim(lower(text)), '\\\\s+'))") >= 30)
    ).count()
    assert got["min_tokens"] == direct


def test_lm_score_target_semantics(spark, sf_dir):
    """Target conditioning changes scores in the expected direction:
    under an en-trained model, en docs outscore the rest on average;
    the default (train on everything) equals plain lm_score; an empty
    target raises loudly."""
    from shapefile_rs_spark.operators.lm import lm_score, lm_score_target

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tgt = {
        r["doc_id"]: r["lm_micro"]
        for r in lm_score_target(docs, F.col("lang") == "en").collect()
    }
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    en = [v for d, v in tgt.items() if langs[d] == "en"]
    other = [v for d, v in tgt.items() if langs[d] != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)
    # train_pred == everything ≡ plain lm_score
    allsc = {tuple(r) for r in lm_score_target(docs, F.lit(True)).collect()}
    assert allsc == {tuple(r) for r in lm_score(docs).collect()}
    with pytest.raises(ValueError, match="empty corpus"):
        lm_score_target(docs, F.col("lang") == "no-such-lang")


def test_pq_recall_telemetry(spark, sf_dir):
    """pq_recall counts exactly |ADC top-5 ∩ exact top-5| per query,
    recomputed directly from the two source queries."""
    import __spark_entry__ as E

    pq = E.q_ann_pq(spark, sf_dir).collect()
    exact = E.q_ann_topk(spark, sf_dir).collect()
    want = {}
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in pq:
        want[r["query_id"]] = want.get(r["query_id"], 0) + (
            1 if r["vec_id"] in ex.get(r["query_id"], set()) else 0
        )
    got = {r["query_id"]: r["hits"] for r in E.q_pq_recall(spark, sf_dir).collect()}
    assert got == want and len(got) == 4


def test_lm_prune_composition(spark, sf_dir):
    """lm_prune keeps exactly ceil(0.5·n) docs per language, and every
    kept doc's LM score is >= every dropped doc's within its language
    (modulo the doc_id tie-break)."""
    import math

    import __spark_entry__ as E
    from shapefile_rs_spark.operators.lm import lm_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = E.q_lm_prune(spark, sf_dir).collect()
    scores = {
        r["doc_id"]: r["lm_micro"] for r in lm_score(docs).collect()
    }
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    per_lang = {}
    for d, l in langs.items():
        if d in scores:
            per_lang.setdefault(l, []).append(d)
    kept_by_lang = {}
    for r in kept:
        kept_by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    for lang, ids in per_lang.items():
        want_n = math.ceil(0.5 * len(ids))
        k = kept_by_lang.get(lang, set())
        assert len(k) == want_n, (lang, len(k), want_n)
        worst_kept = min((scores[d], -d) for d in k)
        best_dropped = max(
            ((scores[d], -d) for d in ids if d not in k), default=None
        )
        if best_dropped is not None:
            assert worst_kept > best_dropped


def test_bpe_learn_encode_matches_two_operator_composition(spark, sf_dir):
    """The single-scan learn-then-encode composition reproduces
    bpe_learn → bpe_encode exactly (r7 optimization: one corpus token
    pass instead of two, encode per DISTINCT word weighted by instance
    counts)."""
    from shapefile_rs_spark.operators.lm import bpe_encode, bpe_learn, bpe_learn_encode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_learn(docs, n_merges=4, max_words=64).orderBy("merge_rank").collect()
    ]
    want = {tuple(r) for r in bpe_encode(docs, merges).collect()}
    got = {
        tuple(r)
        for r in bpe_learn_encode(docs, n_merges=4, max_words=64).collect()
    }
    assert got == want and len(got) > 0
