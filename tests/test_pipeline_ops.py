"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing.  Mirrors the reference's golden-assert test style over
tiny constructed corpora (the DuckDB oracle gate covers scale parity)."""

import numpy as np
import pytest

from pyspark.sql import functions as F


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near dup
        (4, "completely different words about spark partitions shuffles and joins"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark):
    from shapefile_rs_spark.operators.dedup import exact_dedup

    corpus = _corpus(spark)
    kept = exact_dedup(corpus, id_col="doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4]


def test_exact_dedup_null_text_and_tied_ids(spark):
    """Pins the window form's edge semantics (ADVICE r3): null texts are
    ONE group — exactly one null-text row survives (the r2 md5-equijoin
    dropped them all); rows tied on (text, id) collapse to one (the
    equijoin kept both)."""
    from shapefile_rs_spark.operators.dedup import exact_dedup

    rows = [
        (1, None),
        (2, None),
        (3, "same words"),
        (3, "same words"),  # exact (text, id) tie
        (4, "other words"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string")
    kept = exact_dedup(corpus, id_col="doc_id").collect()
    assert sorted((r["doc_id"], r["text"]) for r in kept) == [
        (1, None),
        (3, "same words"),
        (4, "other words"),
    ]


def test_minhash_identical_and_near_dup(spark):
    from shapefile_rs_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in minhash_lsh_pairs(_corpus(spark), id_col="doc_id").collect()
    }
    # exact duplicates agree on every hash and must pair
    assert (1, 2) in pairs and pairs[(1, 2)]["n_agree"] == 12
    assert pairs[(1, 2)]["est_jaccard"] == 1.0
    # near-dups (one word changed) collide in >=1 band with high agreement
    assert (1, 3) in pairs and pairs[(1, 3)]["n_agree"] >= 6
    # the unrelated doc never pairs with anything
    assert not any(4 in p for p in pairs)


def test_minhash_bucket_cap_bounds_boilerplate(spark):
    """A planted boilerplate bucket (200 byte-identical docs) would emit
    200·199/2 = 19900 candidate pairs; bucket_cap drops the hot bucket
    before the self-join so the quadratic term is bounded, while ordinary
    small buckets (the near-dup pair) still pair."""
    from shapefile_rs_spark.operators.dedup import minhash_lsh_pairs

    boiler = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("subscribe to our newsletter terms privacy cookie policy footer").alias("text"),
    )
    pair = spark.range(1000, 1002).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog again and "),
            F.when(F.col("id") == 1000, F.lit("today")).otherwise(F.lit("tonight")),
        ).alias("text"),
    )
    corpus = boiler.unionByName(pair)

    uncapped = minhash_lsh_pairs(corpus, id_col="doc_id").count()
    assert uncapped >= 19900  # the quadratic blowup is real

    capped = minhash_lsh_pairs(corpus, id_col="doc_id", bucket_cap=50)
    rows = capped.collect()
    ids = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1000, 1001) in ids  # small buckets unaffected
    assert all(p[0] >= 1000 for p in ids)  # boilerplate bucket fully dropped
    assert len(rows) < 50


def test_simhash_properties(spark):
    from shapefile_rs_spark.operators.dedup import simhash

    fps = {r["doc_id"]: r["simhash"] for r in simhash(_corpus(spark)).collect()}
    assert fps[1] == fps[2]  # identical text -> identical fingerprint
    assert 0 <= fps[1] < (1 << 16)
    ham_near = bin(fps[1] ^ fps[3]).count("1")
    ham_far = bin(fps[1] ^ fps[4]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated text


def test_ngram_jaccard_bounds(spark):
    from shapefile_rs_spark.operators.dedup import ngram_jaccard, word_shingles

    df = _corpus(spark).select(
        "doc_id",
        ngram_jaccard(
            word_shingles(F.col("text"), 3), word_shingles(F.col("text"), 3)
        ).alias("self_j"),
    )
    assert all(r["self_j"] == 1.0 for r in df.collect())


def test_cosine_topk_self_rank1(spark):
    from shapefile_rs_spark.operators.similarity import cosine_topk

    rng = np.random.default_rng(42)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top = cosine_topk(emb, queries, k=4)
    rows = top.collect()
    assert len(rows) == 12
    r1 = {r["query_id"]: r["vec_id"] for r in rows if r["rnk"] == 1}
    assert r1 == {0: 0, 1: 1, 2: 2}  # a vector's own query ranks first


def test_ivf_matches_bruteforce_within_cell(spark):
    from shapefile_rs_spark.operators.similarity import assign_centroids, cosine_topk, ivf_topk

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_embedding")
    )
    queries = emb.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = {(r["query_id"], r["vec_id"], r["rnk"]) for r in ivf_topk(emb, queries, centroids, k=3).collect()}
    # oracle: brute-force restricted to the query's own cell
    assign = {r["vec_id"]: r["centroid_id"] for r in assign_centroids(emb, centroids).collect()}
    cell = assign[5]
    members = [v for v, c in assign.items() if c == cell]
    sub = emb.filter(F.col("vec_id").isin(members))
    want = {(r["query_id"], r["vec_id"], r["rnk"]) for r in cosine_topk(sub, queries, k=3).collect()}
    assert got == want


def test_quality_metrics_golden(spark):
    from shapefile_rs_spark.operators.textstats import quality_metrics

    df = spark.createDataFrame(
        [(1, "the cat sat on a mat 42 times!")], "doc_id bigint, text string"
    )
    row = quality_metrics(df).collect()[0]
    assert row["n_words"] == 8
    assert row["n_chars"] == 30
    assert row["n_stopwords"] == 2  # the, a
    assert row["n_digit_runs"] == 1
    assert row["n_bpe_tokens"] == 9  # 7 letter runs + '42' + '!'
    assert row["quality_pass"] == 1


def test_char_minhash_deterministic(spark):
    from shapefile_rs_spark.operators.textstats import char_minhash

    df = spark.createDataFrame([(1, "abcdefghij"), (2, "abcdefghij"), (3, "short")],
                               "doc_id bigint, text string")
    rows = {r["doc_id"]: r["fp"] for r in df.select("doc_id", char_minhash(F.col("text")).alias("fp")).collect()}
    assert rows[1] == rows[2]
    assert len(rows[3]) == 32  # short text still fingerprints (whole content)


def test_winnow_fingerprint_positional_overlap(spark):
    """The winnowing guarantee: a shared substring of length ≥ w+k-1 shares
    at least one selected fingerprint REGARDLESS of its position in the two
    documents — the property the global char min-hash lacks."""
    from shapefile_rs_spark.operators.textstats import winnow_fingerprint

    shared = "a long shared plagiarized passage appears here verbatim"
    docs = [
        (1, "XXXX prefix text before. " + shared),
        (2, shared + " .completely different suffix follows YYYY"),
        (3, "nothing in common with either of the other documents at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in df.select("doc_id", winnow_fingerprint(F.col("text"), k=5, w=4).alias("fp")).collect()
    }
    overlap_12 = len(fps[1] & fps[2])
    overlap_13 = len(fps[1] & fps[3])
    assert overlap_12 >= 5  # long shared run → many shared window minima
    assert overlap_13 <= 1  # unrelated text → (near-)disjoint fingerprints
    # determinism + short-text rule
    short = spark.createDataFrame([(4, "ab"), (5, "")], "doc_id bigint, text string")
    rows = {r["doc_id"]: r["fp"] for r in short.select("doc_id", winnow_fingerprint(F.col("text")).alias("fp")).collect()}
    assert len(rows[4]) == 1 and rows[5] == [0]


def test_simhash_vectorized_matches_expression(spark):
    """The Arrow-batched numpy simhash is bit-identical to the unrolled
    Catalyst expression form (and hence to the DuckDB oracle)."""
    from shapefile_rs_spark.operators.dedup import (
        simhash_from_hashes,
        simhash_from_hashes_expr,
        token_hashes,
    )

    df = _corpus(spark).withColumn("_h", token_hashes(F.col("text")))
    rows = df.select(
        simhash_from_hashes(F.col("_h"), 16).alias("vec"),
        simhash_from_hashes_expr(F.col("_h"), 16).alias("expr"),
    ).collect()
    assert rows and all(r["vec"] == r["expr"] for r in rows)


def test_multimodal_roundtrip(spark):
    from shapefile_rs_spark.operators.multimodal import (
        attach_fake_media,
        decode_images,
        decode_videos,
        img_dims,
        resize_images,
        sample_frames,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 5, 100)], "doc_id bigint")
    media = attach_fake_media(docs)
    stats = {r["doc_id"]: r for r in decode_images(media).collect()}
    for did in (0, 5, 100):
        w, h = img_dims(did)
        assert (stats[did]["width"], stats[did]["height"]) == (w, h)
        assert stats[did]["n_pixels"] == w * h
        assert 0.0 <= stats[did]["mean_r"] <= 255.0

    rs = {r["doc_id"]: r for r in resize_images(media).collect()}
    for did in (0, 5, 100):
        w, h = img_dims(did)
        assert (rs[did]["out_w"], rs[did]["out_h"]) == ((w + 1) // 2, (h + 1) // 2)

    frames = sample_frames(decode_videos(media), max_frames=8).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for did, idxs in per_doc.items():
        assert len(idxs) <= 8 and idxs[0] == 0


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """approx_count_distinct (HLL) is the cardinality path for hot-cell
    census at scale; pin its error envelope against the exact count."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = docs.agg(
        F.count_distinct("doc_id").alias("exact"),
        F.approx_count_distinct("doc_id", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= max(5, 0.06 * row["exact"])


def test_knn_join_matches_bruteforce_150_queries(spark, monkeypatch):
    """Exactness of knn_join on both paths at 150 queries over 20k
    deterministic points: the broadcast kernel and the expanding-ring cell
    passes each reproduce brute force bit-for-bit (same dist2 arithmetic,
    same (dist2, point_id) tie-break)."""
    from shapefile_rs_spark.operators.knn import knn_bruteforce

    pts = spark.range(20000).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 2654435761) % 360000 / 1000.0 - 180.0).alias("lon"),
        ((F.col("id") * 40503) % 180000 / 1000.0 - 90.0).alias("lat"),
    )
    qs = spark.range(150).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 97911) % 360000 / 1000.0 - 180.0).alias("q_lon"),
        ((F.col("id") * 57885161) % 180000 / 1000.0 - 90.0).alias("q_lat"),
    )
    want = {tuple(r) for r in knn_bruteforce(pts, qs, k=5).collect()}
    for path in _KNN_PATHS:
        got = _knn_join_rows(monkeypatch, path, pts, qs, k=5, res=6)
        assert got == want
        assert len({t[0] for t in got}) == 150


def test_functions_registry_importable():
    """shapefile_rs_spark.functions is the one-import expression surface;
    every advertised name must resolve."""
    import shapefile_rs_spark.functions as SF

    assert all(hasattr(SF, n) for n in SF.__all__)


def test_dedup_clusters_components(spark, monkeypatch):
    """Connected components: an 8-chain (multi-hop merging, exercises
    pointer jumping), a triangle, and an isolated pair; cluster_id is the
    component min."""
    from shapefile_rs_spark.operators.dedup import dedup_clusters

    rows = [(i, i + 1) for i in range(7)] + [(100, 101), (101, 102), (100, 102), (200, 201)]
    pairs = spark.sql(
        "SELECT * FROM VALUES " + ",".join(map(str, rows)) + " AS t(id_a, id_b)"
    )
    want = (
        {(i, 0) for i in range(8)}
        | {(i, 100) for i in (100, 101, 102)}
        | {(200, 200), (201, 200)}
    )
    # driver-side union-find path (small pair set)
    got = {(r["id"], r["cluster_id"]) for r in dedup_clusters(pairs).collect()}
    assert got == want
    # distributed min-label + pointer-jumping path (driver budget forced to 0)
    monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", 0)
    got_d = {(r["id"], r["cluster_id"]) for r in dedup_clusters(pairs).collect()}
    assert got_d == want


def test_dedup_clusters_probe_single_evaluation(spark):
    """The driver-path size probe is limit(N+1).collect() — ONE evaluation
    of an unmaterialized upstream (a count()-then-collect() pair would run
    the whole pair pipeline twice; r3 verdict item 4).  Pinned with an
    accumulator tap: every upstream row is produced exactly once."""
    import pandas as pd

    from shapefile_rs_spark.operators.dedup import dedup_clusters

    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    base = spark.range(0, 50, 1, 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1000).alias("id_b")
    )
    pairs = base.mapInPandas(tap, "id_a long, id_b long")
    got = dedup_clusters(pairs).collect()
    assert len(got) == 100
    assert acc.value == 50, f"upstream evaluated {acc.value / 50:.1f}x, want 1x"


def test_url_canonicalization_golden(spark):
    """Spelling variants collapse to one canonical URL; legitimate query
    params survive tracking-param removal."""
    from shapefile_rs_spark.operators.urltools import canonicalize_url

    cases = [
        ("https://site1.example/page/5", "https://site1.example/page/5"),
        ("HTTPS://WWW.Site1.Example/page/5", "https://site1.example/page/5"),
        ("https://site1.example/page/5/#frag", "https://site1.example/page/5"),
        ("https://site1.example/p?utm_a=1&utm_b=2", "https://site1.example/p"),
        ("https://site1.example/p?utm_a=1&keep=2", "https://site1.example/p?keep=2"),
        ("https://site1.example/p?keep=2&gclid=xyz", "https://site1.example/p?keep=2"),
        # tracking excision is anchored to a [?&] param boundary: tracking
        # text inside another param's VALUE, or a param merely NAMED like
        # one, must survive (ADVICE r2)
        ("https://site1.example/p?q=utm_a=b", "https://site1.example/p?q=utm_a=b"),
        ("https://site1.example/p?myutm_x=1", "https://site1.example/p?myutm_x=1"),
        ("https://site1.example/p?utm_a=1&b=2&utm_c=3", "https://site1.example/p?b=2"),
    ]
    df = spark.sql(
        "SELECT * FROM VALUES "
        + ",".join(f"('{a}','{b}')" for a, b in cases)
        + " AS t(raw, want)"
    )
    rows = df.select(canonicalize_url(F.col("raw")).alias("got"), "want").collect()
    assert all(r["got"] == r["want"] for r in rows), rows


def test_knn_join_big_query_side_matches_bruteforce(spark):
    """Distributed kNN join (both sides big, two passes, no driver loop)
    reproduces brute force bit-for-bit on 2000 queries x 5000 points."""
    from shapefile_rs_spark.operators.knn import knn_bruteforce, knn_join

    pts = spark.range(5000).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 2654435761) % 360000 / 1000.0 - 180.0).alias("lon"),
        ((F.col("id") * 40503) % 180000 / 1000.0 - 90.0).alias("lat"),
    )
    qs = spark.range(2000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 97911) % 360000 / 1000.0 - 180.0).alias("q_lon"),
        ((F.col("id") * 57885161) % 180000 / 1000.0 - 90.0).alias("q_lat"),
    )
    want = {tuple(r) for r in knn_bruteforce(pts, qs, k=3).collect()}
    got = {tuple(r) for r in knn_join(pts, qs, k=3, res=5).collect()}
    assert got == want and len(got) == 6000


def test_gap_sessions_splits_on_gap(spark):
    """Events 30+ min apart start a new session; within-gap events chain."""
    from shapefile_rs_spark.operators.sessions import gap_sessions

    rows = [
        (1, 10, "2024-01-01 00:00:00"),
        (2, 10, "2024-01-01 00:10:00"),
        (3, 10, "2024-01-01 01:00:00"),  # 50-min gap -> new session
        (4, 20, "2024-01-01 00:00:00"),
    ]
    ev = spark.sql(
        "SELECT col1 AS event_id, col2 AS user_id, CAST(col3 AS TIMESTAMP) AS ts FROM VALUES "
        + ",".join(f"({a},{b},'{c}')" for a, b, c in rows)
    )
    got = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["duration_sec"])
        for r in gap_sessions(ev, gap_sec=1800).collect()
    }
    assert got == {(10, 1): (2, 600), (10, 2): (1, 0), (20, 1): (1, 0)}


def test_ivf_multiprobe_improves_recall(spark):
    """nprobe=2 candidates are a superset of nprobe=1's, so recall vs
    brute force can only improve; with nprobe = all centroids IVF IS
    brute force."""
    from shapefile_rs_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(80)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, queries, k=3).collect()}

    def recall(nprobe):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_topk(emb, queries, centroids, k=3, nprobe=nprobe).collect()
        }
        return len(got & exact) / len(exact), got

    r1, _ = recall(1)
    r2, _ = recall(2)
    r_all, got_all = recall(4)
    assert r1 <= r2 <= r_all
    assert got_all == exact  # probing every cell recovers brute force


def test_knn_join_fewer_points_than_k(spark, monkeypatch):
    """total points < k: every query still gets all existing points,
    exactly like brute force, on the broadcast kernel and on the cell
    passes' degenerate full-ring path."""
    from shapefile_rs_spark.operators.knn import knn_bruteforce

    pts = spark.range(2).select(
        F.col("id").alias("point_id"),
        (F.col("id") * 10.0).alias("lon"),
        (F.col("id") * 5.0).alias("lat"),
    )
    qs = spark.range(3).select(
        F.col("id").alias("query_id"),
        (F.col("id") * 3.0).alias("q_lon"),
        (F.col("id") * 2.0).alias("q_lat"),
    )
    want = {tuple(r) for r in knn_bruteforce(pts, qs, k=5).collect()}
    for path in _KNN_PATHS:
        got = _knn_join_rows(monkeypatch, path, pts, qs, k=5, res=4)
        assert got == want and len(got) == 6


def test_dedup_clusters_string_ids_distributed(spark, monkeypatch):
    """Review regression: the distributed path must work for string ids
    (the natural URL-id case) and raise loudly on non-convergence."""
    from shapefile_rs_spark.operators.dedup import dedup_clusters

    monkeypatch.setattr("shapefile_rs_spark.local.DRIVER_ROWS", 0)
    pairs = spark.sql(
        "SELECT * FROM VALUES ('u1','u2'),('u2','u3'),('x9','x8') AS t(id_a, id_b)"
    )
    got = {(r["id"], r["cluster_id"]) for r in dedup_clusters(pairs).collect()}
    assert got == {("u1", "u1"), ("u2", "u1"), ("u3", "u1"), ("x8", "x8"), ("x9", "x8")}

    chain = spark.sql(
        "SELECT * FROM VALUES " + ",".join(f"({i},{i+1})" for i in range(8)) + " AS t(id_a, id_b)"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=1)


def test_local_frame_roundtrip(spark):
    """Driver-built frames come back exactly: backslashes and quotes,
    NaN apart from NULL, ±inf, a NULL in every column, int64 past 2^53;
    no rows give the typed empty frame; the plan is a LocalTableScan."""
    import math

    from shapefile_rs_spark.local import local_frame

    schema = "s string, v double, n bigint"
    rows = [
        ("a\\nb", 1.5, 2**62 + 1),
        ("tail\\", float("inf"), -(2**62) - 1),
        ("o'brien", float("nan"), 0),
        ("neg", float("-inf"), None),
        ("null_v", None, 7),
        (None, 2.5, 8),
    ]
    df = local_frame(spark, rows, schema)
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(rows)
    for (s, v, n), (gs, gv, gn) in zip(rows, got):
        assert (gs, gn) == (s, n)
        assert type(gn) is type(n)
        if v is not None and math.isnan(v):
            assert gv is not None and math.isnan(gv)  # NaN, not NULL
        else:
            assert gv == v
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    # the same columns as a mapping of name → values
    cols = dict(zip(["s", "v", "n"], map(list, zip(*rows))))
    assert repr([tuple(r) for r in local_frame(spark, cols, schema).collect()]) == repr(got)
    empty = local_frame(spark, [], schema)
    assert empty.schema.simpleString() == "struct<s:string,v:double,n:bigint>"
    assert empty.collect() == []
    assert "LocalTableScan" in empty._jdf.queryExecution().executedPlan().toString()


def test_embed_neardup_or_amplified_recall(spark):
    """A true cos≈0.995 NON-identical near-dup pair must be FOUND: one hash
    table at scale-sized plane counts finds such a pair only ~q^p of the
    time; the 4-table OR-amplification restores recall (r2 verdict item 2).
    Also pins exactness: every reported pair really clears the threshold
    (no false positives from bucketing)."""
    from shapefile_rs_spark.operators.similarity import embedding_neardup_pairs

    rng = np.random.default_rng(11)
    base = rng.normal(size=(80, 16))
    # plant a non-identical near-dup: id 200 ≈ id 0 with tiny noise
    near = base[0] + 0.04 * rng.normal(size=16)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows.append((200, [float(x) for x in near]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    planes = emb.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("plane_id"), F.col("embedding").alias("p_embedding")
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, planes, threshold=0.99, n_tables=4).collect()
    }
    import numpy as _np

    cos = float(
        (base[0] @ near) / (_np.linalg.norm(base[0]) * _np.linalg.norm(near))
    )
    assert cos >= 0.99  # the plant really is a near-dup
    assert (0, 200) in got  # ...and the 4-table OR finds it
    # exactness of the refine: recompute every reported pair brute-force
    vecs = {i: _np.asarray(v) for i, v in rows}
    for a, b in got:
        va, vb = vecs[a], vecs[b]
        assert (va @ vb) / (_np.linalg.norm(va) * _np.linalg.norm(vb)) >= 0.99


def test_assign_centroids_broadcast_path_matches_closure(spark, monkeypatch):
    """Above CLOSURE_MAX_CENTROIDS, assignment switches to a Spark broadcast
    join (centroids shipped once per executor, not pickled per task) and
    must produce the same assignments as the closure matmul path — including
    the n_assign>1 multi-probe set and the carried embedding."""
    from shapefile_rs_spark.operators import similarity
    from shapefile_rs_spark.operators.similarity import assign_centroids

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    centroids = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_embedding")
    )

    for n_assign in (1, 2):
        closure = assign_centroids(emb, centroids, n_assign=n_assign, carry_vec=True)
        with monkeypatch.context() as m:
            m.setattr(similarity, "CLOSURE_MAX_CENTROIDS", 0)
            bcast = assign_centroids(emb, centroids, n_assign=n_assign, carry_vec=True)
        plan = bcast._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan  # BroadcastNestedLoopJoin: no equi-key
        c_rows = {(r["vec_id"], r["centroid_id"]): list(r["_v"]) for r in closure.collect()}
        b_rows = {(r["vec_id"], r["centroid_id"]): list(r["_v"]) for r in bcast.collect()}
        assert c_rows == b_rows


def test_assign_centroids_chunked_scoring_exact(spark):
    """The centroid-chunked matmul (the B×C score matrix at default Arrow
    batches and C=65536 is ~10.5 GB/worker — measured stall, hence the
    chunking) merges to EXACTLY the single-matmul result, ties included:
    forcing ~1-4 centroid chunks must not change any assignment for
    n_assign 1 or 2.  Duplicate centroids exercise the cross-chunk
    tie-break (equal cosines in different chunks → lower cid wins)."""
    from shapefile_rs_spark.operators.similarity import assign_centroids

    rng = np.random.default_rng(23)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    cent_rows = [(i, v) for i, (_, v) in enumerate(vecs[:10])]
    cent_rows += [(100 + i, v) for i, (_, v) in enumerate(vecs[:3])]  # dup ties
    centroids = spark.createDataFrame(
        cent_rows, "centroid_id bigint, c_embedding array<double>"
    )
    for n_assign in (1, 2):
        whole = {
            (r["vec_id"], r["centroid_id"])
            for r in assign_centroids(emb, centroids, n_assign=n_assign).collect()
        }
        chunked = {
            (r["vec_id"], r["centroid_id"])
            for r in assign_centroids(
                emb, centroids, n_assign=n_assign, _chunk_elems=1
            ).collect()
        }
        assert chunked == whole
        if n_assign == 1:
            # every duplicate-centroid tie resolved to the LOW id copy
            # (n_assign=2 legitimately takes the duplicate as runner-up)
            assert not any(cid >= 100 for _, cid in whole)


def test_assign_centroids_dead_centroid_ranks_last(spark, monkeypatch):
    """A zero-norm centroid (empty k-means cluster → NaN cosine) must rank
    LAST on every path: chunked single-assign, whole-matrix, and the
    broadcast fallback all agree, and no vector is assigned to the dead
    centroid (review finding: raw argmax treats NaN as maximal, so a dead
    centroid in a chunk swallowed that chunk's real best)."""
    from shapefile_rs_spark.operators import similarity
    from shapefile_rs_spark.operators.similarity import assign_centroids

    rng = np.random.default_rng(31)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    cents = [(0, [0.0] * 8)]  # dead centroid at the LOWEST cid
    cents += [(i, v) for i, (_, v) in enumerate(vecs[:5], start=1)]
    centroids = spark.createDataFrame(
        cents, "centroid_id bigint, c_embedding array<double>"
    )
    whole = {(r["vec_id"], r["centroid_id"]) for r in assign_centroids(emb, centroids).collect()}
    chunked = {
        (r["vec_id"], r["centroid_id"])
        for r in assign_centroids(emb, centroids, _chunk_elems=1).collect()
    }
    monkeypatch.setattr(similarity, "CLOSURE_MAX_CENTROIDS", 0)
    bcast = {(r["vec_id"], r["centroid_id"]) for r in assign_centroids(emb, centroids).collect()}
    assert whole == chunked == bcast
    assert not any(cid == 0 for _, cid in whole)


def test_assign_centroids_zero_norm_vector_gets_no_assignment(spark, monkeypatch):
    """A zero-norm VECTOR has no defined cosine to anything — it must
    produce NO assignment row on every path (advice finding: the closure
    path's zero-initialized best index silently assigned it to the lowest
    centroid id; the broadcast path's NULL score ranked it arbitrarily).
    Live vectors are unaffected, n_assign 1 and 2, all three paths."""
    from shapefile_rs_spark.operators import similarity
    from shapefile_rs_spark.operators.similarity import assign_centroids

    rng = np.random.default_rng(37)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(20)]
    vecs.append((99, [0.0] * 8))  # the zero-norm vector
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_embedding")
    )
    for n_assign in (1, 2):
        for kw, max_c in (({}, None), ({"_chunk_elems": 1}, None), ({}, 0)):
            with monkeypatch.context() as m:
                if max_c is not None:
                    m.setattr(similarity, "CLOSURE_MAX_CENTROIDS", max_c)
                rows = assign_centroids(emb, centroids, n_assign=n_assign, **kw).collect()
            by_vec = {}
            for r in rows:
                by_vec.setdefault(r["vec_id"], []).append(r["centroid_id"])
            assert 99 not in by_vec, f"zero-norm vector assigned via {kw}, {max_c}"
            assert all(len(v) == n_assign for k, v in by_vec.items())
            assert len(by_vec) == 20


def test_ann_lsh_topk_candidates_and_order(spark):
    """LSH top-k: every returned row is a true bucket-mate of its query;
    a query present in the corpus returns itself at rank 1 (it shares all
    its own buckets); ranks within the result agree with the EXACT cosine
    order restricted to the candidate set (verified against a brute-force
    rescore); queries with thin buckets legitimately return < k rows."""
    from shapefile_rs_spark.operators.similarity import ann_lsh_topk

    rng = np.random.default_rng(41)
    base = rng.normal(size=(4, 16))
    rows = []
    for i in range(80):
        v = base[i % 4] + rng.normal(scale=0.05, size=16)  # 4 tight clusters
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    planes = emb.filter(F.col("vec_id") >= 60).select(
        (F.col("vec_id") - 60).alias("plane_id"), F.col("embedding").alias("p_embedding")
    )  # 20 planes → 4 tables × 5 planes
    got = ann_lsh_topk(emb, queries, planes, k=5, n_tables=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"]))
    assert set(by_q) == {0, 1, 2}
    vecs = {i: np.asarray(v) for i, v in rows}
    for qid, hits in by_q.items():
        hits.sort()
        assert hits[0] == (1, qid)  # self shares every bucket → rank 1
        assert len(hits) <= 5
        # exact-cosine order over the returned ids matches the ranks
        def cos(a, b):
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        scored = sorted(
            ((-cos(vecs[qid], vecs[vid]), vid) for _, vid in hits)
        )
        assert [vid for _, vid in scored] == [vid for _, vid in hits]


def test_ann_lsh_topk_broadcasts_query_buckets(spark):
    """The candidate join must broadcast the tiny query-side bucket frame
    — the corpus side is never shuffled before the candidate distinct."""
    from shapefile_rs_spark.operators.similarity import ann_lsh_topk

    rng = np.random.default_rng(43)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    planes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("plane_id"), F.col("embedding").alias("p_embedding")
    )
    plan = ann_lsh_topk(emb, queries, planes, k=3, n_tables=2)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the cosine rescore runs ONCE (a pre-window null filter on the UDF
    # column made Catalyst evaluate the scoring UDF twice)
    assert plan.count("ArrowEvalPython") == 1


def test_ann_lsh_multiprobe_superset_and_probe_shape(spark):
    """Multi-probe (nprobe=2): per (id, table) the bucket frame holds the
    own bucket plus exactly one neighbor differing in ONE bit — the bit
    with the smallest |margin| — so the candidate set is a strict superset
    of nprobe=1's and recall vs brute force can only improve; the returned
    ranks still follow exact cosine over the (wider) candidate set."""
    from shapefile_rs_spark.operators.similarity import (
        ann_lsh_topk,
        hyperplane_buckets,
    )

    rng = np.random.default_rng(47)
    base = rng.normal(size=(4, 16))
    rows = [
        (i, [float(x) for x in base[i % 4] + rng.normal(scale=0.05, size=16)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    planes = emb.filter(F.col("vec_id") >= 60).select(
        (F.col("vec_id") - 60).alias("plane_id"), F.col("embedding").alias("p_embedding")
    )  # 20 planes → 4 tables × 5 planes

    # probe-frame shape: nprobe rows per (id, tbl), neighbor = base ^ (1<<bit)
    qb1 = hyperplane_buckets(queries, planes, n_tables=4, vec_id="query_id",
                             vec_col="q_embedding").collect()
    qb2 = hyperplane_buckets(queries, planes, n_tables=4, vec_id="query_id",
                             vec_col="q_embedding", nprobe=2).collect()
    own = {(r["_id"], r["_tbl"]): r["_bucket"] for r in qb1}
    seen = {}
    for r in qb2:
        seen.setdefault((r["_id"], r["_tbl"]), []).append(r["_bucket"])
    assert set(seen) == set(own) and all(len(v) == 2 for v in seen.values())
    for key, buckets in seen.items():
        assert own[key] in buckets
        flipped = [b for b in buckets if b != own[key]]
        assert len(flipped) == 1
        assert bin(flipped[0] ^ own[key]).count("1") == 1  # exactly one bit

    got1 = ann_lsh_topk(emb, queries, planes, k=5, n_tables=4).collect()
    got2 = ann_lsh_topk(emb, queries, planes, k=5, n_tables=4, nprobe=2).collect()
    c1 = {(r["query_id"], r["vec_id"]) for r in got1}
    vecs = {i: np.asarray(v) for i, v in rows}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    by_q = {}
    for r in got2:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"]))
    for qid, hits in by_q.items():
        hits.sort()
        assert hits[0] == (1, qid)
        order = sorted(((-cos(vecs[qid], vecs[vid]), vid) for _, vid in hits))
        assert [v for _, v in order] == [v for _, v in hits]
        # wider probes: everything nprobe=1 returned at rank<=len(hits) is
        # still reachable (superset of candidates ⇒ never-worse recall)
        top2 = {v for _, v in hits}
        assert {v for (q, v) in c1 if q == qid and v in top2} <= top2

    # candidate sets: nprobe=2's CANDIDATES are a superset, so any rank-k
    # cutoff keeps at least the nprobe=1 quality (checked via self@1 above);
    # invalid nprobe values fail loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="nprobe"):
        hyperplane_buckets(queries, planes, n_tables=4, vec_id="query_id",
                           vec_col="q_embedding", nprobe=0)
    with _pytest.raises(ValueError, match="nprobe"):
        hyperplane_buckets(queries, planes, n_tables=4, vec_id="query_id",
                           vec_col="q_embedding", nprobe=7)


def test_ivf_topk_broadcast_assignment_unchanged(spark, monkeypatch):
    """ivf_topk results are identical whichever assignment path runs."""
    from shapefile_rs_spark.operators import similarity
    from shapefile_rs_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_embedding")
    )
    queries = emb.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    base = {
        (r["query_id"], r["vec_id"], r["rnk"])
        for r in ivf_topk(emb, queries, centroids, k=3, nprobe=2).collect()
    }
    monkeypatch.setattr(similarity, "CLOSURE_MAX_CENTROIDS", 0)
    forced = {
        (r["query_id"], r["vec_id"], r["rnk"])
        for r in ivf_topk(emb, queries, centroids, k=3, nprobe=2).collect()
    }
    assert base == forced


def test_decontaminate_broadcast_plan_and_planted_overlap(spark):
    """Planted benchmark 8-grams are found, clean docs report 0, and the
    probe side joins the benchmark set via a broadcast hash join (the
    corpus side must not shuffle)."""
    from shapefile_rs_spark.operators.curation import decontaminate

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    bench = spark.createDataFrame(
        [(100, words)], "doc_id bigint, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "zulu yankee " + words),          # contains a bench 8-gram
            (2, "one two three four five six seven eight nine ten"),
            (3, words + " extra tail here"),       # also contaminated
        ],
        "doc_id bigint, text string",
    )
    out = decontaminate(docs, bench, k=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = {r.doc_id: (r.n_overlap, r.contaminated) for r in out.collect()}
    assert rows[2] == (0, False)
    assert rows[1][1] and rows[3][1]
    assert rows[1][0] >= 1 and rows[3][0] >= 1


def test_redact_pii_counts_and_text(spark):
    from shapefile_rs_spark.operators.curation import redact_pii

    df = spark.createDataFrame(
        [(1, "write to bob.smith@corp.example or call 555-0134 or 555-9999 now")],
        "id bigint, text string",
    )
    r = redact_pii(df).collect()[0]
    assert (r.n_emails, r.n_phones) == (1, 2)
    assert r.text_redacted == "write to <EMAIL> or call <PHONE> or <PHONE> now"


def test_stratified_sample_deterministic_and_rated(spark):
    """The keep-set is identical at any partitioning (the property
    df.sample() lacks) and the realized rate tracks the stratum rate."""
    from shapefile_rs_spark.operators.curation import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    rates = {"en": 0.5, "zh": 0.0}
    kept1 = {r.doc_id for r in stratified_sample(df, rates).collect()}
    kept2 = {
        r.doc_id
        for r in stratified_sample(df.repartition(17, "lang"), rates).collect()
    }
    assert kept1 == kept2
    assert not any(i % 2 for i in kept1)  # zh rate 0 keeps nothing
    assert 0.40 * 1000 < len(kept1) < 0.60 * 1000
    # rate 1.0 keeps every row of the stratum
    all_en = stratified_sample(df, {"en": 1.0}).count()
    assert all_en == 1000


def test_bpe_token_count(spark):
    from shapefile_rs_spark.operators.curation import bpe_token_count

    df = spark.createDataFrame([(1, "hello world 42 end-of-line")], "id bigint, t string")
    n = df.select(bpe_token_count(F.col("t")).alias("n")).collect()[0].n
    # hello | ' world' | ' 42' | ' end' | '-' | 'of' | '-' | 'line'
    assert n == 8


def test_host_cap_quota_and_determinism(spark):
    """Per-host quota keeps the cap-best docs by (quality desc, id asc);
    a host under its quota keeps everything; the keep-set is identical at
    different partitionings (deterministic tie-break, no RNG)."""
    from shapefile_rs_spark.operators.curation import host_cap

    rows = [
        # hot host: 5 docs, quality ties between 11/12 broken by id
        ("a.com", 10, 100), ("a.com", 11, 90), ("a.com", 12, 90),
        ("a.com", 13, 80), ("a.com", 14, 70),
        ("b.org", 20, 50), ("b.org", 21, 60),
    ]
    df = spark.createDataFrame(rows, "host string, doc_id bigint, quality bigint")
    kept = host_cap(df, cap=3).collect()
    got = {(r.host, r.doc_id, r.host_rank) for r in kept}
    assert got == {
        ("a.com", 10, 1), ("a.com", 11, 2), ("a.com", 12, 3),
        ("b.org", 21, 1), ("b.org", 20, 2),
    }
    rep = {
        (r.host, r.doc_id, r.host_rank)
        for r in host_cap(df.repartition(7, "doc_id"), cap=3).collect()
    }
    assert rep == got
    # cap < 1 keeps nothing by construction — reject loudly (a scripted
    # negative would otherwise ship an empty corpus as "success")
    import pytest as _pytest

    for bad in (0, -8):
        with _pytest.raises(ValueError):
            host_cap(df, cap=bad)


def test_host_cap_salted_identical_rows(spark, sf_dir):
    """The salted two-phase top-k (mega_host_threshold) emits EXACTLY the
    rows and ranks of the unsalted window at a forced threshold, including
    a planted mega-host, null hosts, and null quality scores — the
    threshold picks the plan, never the answer (VERDICT r5 item 2)."""
    from shapefile_rs_spark.operators.curation import host_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("s"), F.pmod(F.col("doc_id") * 131, F.lit(37))).alias("host"),
        F.col("n_chars").alias("quality"),
    )
    # plant skew + null edges: one mega-host with 1/3 of all docs, some
    # null hosts (their own window partition) and unscored docs
    edge = (
        docs.withColumn(
            "host",
            F.when(F.col("doc_id") % 3 == 0, F.lit("megahost"))
            .when(F.col("doc_id") % 7 == 0, F.lit(None))
            .otherwise(F.col("host")),
        )
        .withColumn(
            "quality",
            F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(F.col("quality")),
        )
    )
    base = sorted(tuple(r) for r in host_cap(edge, cap=8).collect())
    salted = sorted(
        tuple(r) for r in host_cap(edge, cap=8, mega_host_threshold=10).collect()
    )
    assert salted == base and len(base) > 0
    # a threshold nothing exceeds must fall through to the plain window
    # (no behavior cliff when the data shrinks below the budget)
    high = sorted(
        tuple(r)
        for r in host_cap(edge, cap=8, mega_host_threshold=10**9).collect()
    )
    assert high == base
    import pytest as _pytest

    with _pytest.raises(ValueError):
        host_cap(edge, cap=8, mega_host_threshold=0)


def test_dup_coverage_interval_union_golden(spark):
    """Hand-computed coverage goldens: exact copy → full coverage; shared
    prefix → exactly the prefix; gapped shared grams → interval UNION (not
    k·count, which double-counts overlaps); unique doc → zero."""
    from shapefile_rs_spark.operators.dedup import dup_coverage

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),          # exact copy of 1
        (3, "a b c d x y z w q r"),          # shares only gram [0,4) with 1/2
        (4, "p q r s t u v w x y"),
        (5, "p q r s T u v w x y"),          # differs at token 4
        (6, "totally unique tokens nothing here matches anything else at all"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    got = {r["id"]: r for r in dup_coverage(df, id_col="id", k=4).collect()}
    assert all(got[i]["n_tokens"] == 10 for i in got)
    # docs 1/2: every position duplicated → union [0,10) = 10, frac 1.0
    for i in (1, 2):
        assert got[i]["n_dup_grams"] == 7 and got[i]["covered_tokens"] == 10
        assert got[i]["dup_cov_frac"] == 1.0
    # doc 3: one shared gram at pos 0 → covered 4
    assert got[3]["n_dup_grams"] == 1 and got[3]["covered_tokens"] == 4
    # docs 4/5 share positions {0, 5, 6}: union [0,4)∪[5,10) = 9 (a naive
    # k·n_dup_grams would claim 12)
    for i in (4, 5):
        assert got[i]["n_dup_grams"] == 3 and got[i]["covered_tokens"] == 9
    assert got[6]["n_dup_grams"] == 0 and got[6]["covered_tokens"] == 0
    assert got[6]["dup_cov_frac"] == 0.0


def test_dup_coverage_short_doc_clamps_at_doc_end(spark):
    """A duplicated doc SHORTER than k covers exactly its own n_tokens —
    the whole-text gram's contribution clamps at the doc end, so
    dup_cov_frac never exceeds 1.0 (review finding: min(k, next-pos)
    alone reported 8/3 ≈ 2.67 for 3-token dups at k=8)."""
    from shapefile_rs_spark.operators.dedup import dup_coverage

    df = spark.createDataFrame(
        [(1, "tiny dup doc"), (2, "tiny dup doc"), (3, "a b c d e f g h i j")],
        "id bigint, text string",
    )
    got = {r["id"]: r for r in dup_coverage(df, id_col="id", k=8).collect()}
    for i in (1, 2):
        assert got[i]["n_tokens"] == 3
        assert got[i]["covered_tokens"] == 3
        assert got[i]["dup_cov_frac"] == 1.0
    assert all(r["dup_cov_frac"] <= 1.0 for r in got.values())


def test_simhash_width_ceiling_rejected_at_every_entry_point(spark):
    """The 60-bit fingerprint ceiling is a CROSS-ENGINE invariant (token
    hashes carry 60 informative bits; bit 63 wraps the int64 sign and
    diverges Spark shiftright from DuckDB //).  A future widening attempt
    must fail loudly at every entry point — Spark operators AND oracle
    builders — not silently mismatch the gate."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from shapefile_rs_spark.operators import dedup as D

    docs = spark.createDataFrame([(1, "a b c d e")], "id bigint, text string")
    hs = F.lit(None).cast("array<long>")
    for bits, bands in ((61, 1), (64, 4)):
        for attempt in (
            lambda: D.simhash(docs, id_col="id", bits=bits),
            lambda: D.simhash_banded(docs, id_col="id", bits=bits, bands=bands),
            lambda: D.simhash_pairs(docs, id_col="id", bits=bits, bands=bands),
            lambda: D.simhash_from_hashes(hs, bits=bits),
            lambda: D.simhash_from_hashes_expr(hs, bits=bits),
            lambda: D.simhash_sql("text", bits=bits),
            lambda: D.simhash_pairs_sql("SELECT * FROM t", bits=bits, bands=bands),
        ):
            with _pytest.raises(AssertionError):
                attempt()


def test_minhash_algo_fingerprint_moves_with_params():
    """The committed-sig-stage cache key must move when the signature
    config changes (and stay stable across calls) — a stage written under
    one algorithm can never be silently reused by another."""
    from shapefile_rs_spark.operators.dedup import minhash_algo_fingerprint

    base = minhash_algo_fingerprint(3, 12)
    assert base == minhash_algo_fingerprint(3, 12)
    assert base != minhash_algo_fingerprint(4, 12)
    assert base != minhash_algo_fingerprint(3, 8)


@pytest.mark.parametrize("op", ["dedup_clusters", "domain_rank"])
def test_driver_rows_boundary_job_counts(spark, monkeypatch, op):
    """Pin the driver/distributed switchover AT the DRIVER_ROWS budget.
    N ≤ budget input rows: the collect_upto probe IS the fetch — every
    job in the group must come from the probe's ONE collect call site,
    and the total task count must not exceed the input's partition count
    (a count()-then-collect() regression evaluates the frame twice: a
    second call site and ≥2× the tasks; CollectLimitExec's incremental
    partition scan-up legitimately splits the ONE action into more than
    one job, so a bare job count would misfire).  N = budget+1 falls
    through to the distributed loop.  Both sides produce the rows of
    the operator's reference: the chain's one component for
    dedup_clusters, the DuckDB twin for domain_rank."""
    import duckdb

    from shapefile_rs_spark import local
    from shapefile_rs_spark.operators.dedup import dedup_clusters
    from shapefile_rs_spark.operators.graph import domain_rank, domain_rank_sql

    sc = spark.sparkContext
    thr = 10
    monkeypatch.setattr(local, "DRIVER_ROWS", thr)
    chain = [(i, i + 1) for i in range(thr)]  # exactly thr rows

    def call(pairs):
        if op == "dedup_clusters":
            return dedup_clusters(pairs)
        return domain_rank(pairs, iterations=3, src_col="id_a", dst_col="id_b")

    def want(rows):
        if op == "dedup_clusters":
            return {(i, 0) for i in range(len(rows) + 1)}
        con = duckdb.connect()
        con.execute("CREATE TABLE pairs (id_a BIGINT, id_b BIGINT)")
        con.executemany("INSERT INTO pairs VALUES (?, ?)", rows)
        sql = domain_rank_sql("SELECT * FROM pairs", iterations=3, src_col="id_a", dst_col="id_b")
        return {tuple(r) for r in con.execute(sql).fetchall()}

    def run_grouped(pairs_rows, group):
        pairs = spark.createDataFrame(pairs_rows, "id_a bigint, id_b bigint")
        n_parts = pairs.rdd.getNumPartitions()
        sc.setJobGroup(group, group)
        try:
            out = call(pairs)
        finally:
            sc.setJobGroup("", "")
        st = sc.statusTracker()
        sites, tasks = set(), 0
        for j in st.getJobIdsForGroup(group):
            for s in st.getJobInfo(j).stageIds:
                info = st.getStageInfo(s)
                if info:
                    sites.add(info.name)
                    tasks += info.numTasks
        sites = {s for s in sites if s}
        return out, sites, tasks, n_parts

    out_drv, sites, tasks, n_parts = run_grouped(chain, f"{op}-at-budget")
    # one distinct call site (the probe's collect), no partition read twice
    call_lines = {s for s in sites if "collect at" in s}
    assert len(call_lines) == 1, f"expected the single probe call site, saw {sites}"
    assert tasks <= n_parts, f"{tasks} tasks over {n_parts} partitions: double evaluation"
    rows = {tuple(r) for r in out_drv.collect()}
    assert rows == want(chain)

    over = chain + [(thr, thr + 1)]
    out_dist, sites_d, _, _ = run_grouped(over, f"{op}-over-budget")
    assert len({s for s in sites_d if "collect at" in s or "checkpoint" in s.lower()}) > 1, (
        "budget+1 rows must take the distributed path"
    )
    rows = {tuple(r) for r in out_dist.collect()}
    assert rows == want(over)


def test_quality_prune_two_phase_matches_window_path(spark, sf_dir):
    """mega_strata_threshold forces the sample-sort two-phase rank; its
    (q_rank, n_stratum, keep-set) must be row-identical to the window
    spelling — including score ties, NULL scores (rank last), and a NULL
    stratum (its own group, not dropped by the count join)."""
    from pyspark.sql import functions as F

    from shapefile_rs_spark.operators.curation import quality_prune

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.col("n_chars").alias("quality")
    )
    # threshold=1: every stratum is "mega", the two-phase path runs.
    # The second frame plants a nullable int64 PAYLOAD column holding a
    # value above 2^53 next to a null: a full-row pandas round-trip would
    # coerce it to float64 and corrupt it on the two-phase path only
    # (review finding) — the slim (id, stratum) rank pass must not.
    big = (1 << 60) + 7
    for frame in (
        docs,
        spark.createDataFrame(
            [
                (1, "en", 10, big), (2, "en", 10, None), (3, "en", None, big + 1),
                (4, "en", 7, 0), (5, None, 9, big + 2), (6, None, None, None),
                (7, "de", 1, -big),
            ],
            "doc_id bigint, lang string, quality bigint, payload bigint",
        ),
    ):
        two = {tuple(r) for r in quality_prune(frame, 0.5, mega_strata_threshold=1).collect()}
        win = {tuple(r) for r in quality_prune(frame, 0.5).collect()}
        assert two == win and len(win) > 0
    assert any(r[3] == big for r in two)  # the 2^60 payload survived bit-exact
    # below-threshold strata stay on the window plan (reusing the routing
    # scan's counts as the broadcast n_stratum) and still match
    small = {tuple(r) for r in quality_prune(docs, 0.3, mega_strata_threshold=10**9).collect()}
    base = {tuple(r) for r in quality_prune(docs, 0.3).collect()}
    assert small == base
    # a stratum beyond the int32 rank space is rejected loudly, not wrapped
    import pytest as _pytest

    from shapefile_rs_spark.operators.curation import _quality_prune_two_phase

    with _pytest.raises(ValueError, match="2\\^31"):
        _quality_prune_two_phase(docs, 0.5, "lang", "doc_id", "quality", {"en": 2**31})
    # the join-back id contract is enforced loudly: null ids would be
    # silently dropped, duplicate ids fanned out — both must raise
    null_id = spark.createDataFrame(
        [(1, "en", 5), (None, "en", 4)], "doc_id bigint, lang string, quality bigint"
    )
    with _pytest.raises(ValueError, match="null"):
        quality_prune(null_id, 0.5, mega_strata_threshold=1).collect()
    dup_id = spark.createDataFrame(
        [(1, "en", 5), (1, "en", 4)], "doc_id bigint, lang string, quality bigint"
    )
    with _pytest.raises(ValueError, match="duplicates"):
        quality_prune(dup_id, 0.5, mega_strata_threshold=1).collect()
    # 'auto' derives the budget (total rows / shuffle partitions) and must
    # match both spellings row-for-row; any other string is rejected loudly
    auto = {tuple(r) for r in quality_prune(docs, 0.5, mega_strata_threshold="auto").collect()}
    assert auto == {tuple(r) for r in quality_prune(docs, 0.5).collect()}
    with _pytest.raises(ValueError, match="auto"):
        quality_prune(docs, 0.5, mega_strata_threshold="AUTO-ish")
    # float strata: a NaN stratum is indistinguishable from NULL through
    # Arrow (both arrive as pandas NaN) and nan != nan breaks the offset
    # keys — rejected loudly on the counted paths (advice finding); the
    # plain window path still ranks NaN as its own stratum, and NULL-only
    # float strata stay exact on both paths
    nan_strata = spark.createDataFrame(
        [(1, float("nan"), 5), (2, float("nan"), 4), (3, 1.0, 3), (4, None, 2)],
        "doc_id bigint, grp double, quality bigint",
    )
    assert quality_prune(nan_strata, 0.5, strata_col="grp").count() > 0
    with _pytest.raises(ValueError, match="NaN"):
        quality_prune(nan_strata, 0.5, strata_col="grp", mega_strata_threshold=1)
    null_strata = nan_strata.filter(~F.isnan("grp") | F.col("grp").isNull())
    two_f = {tuple(r) for r in quality_prune(null_strata, 0.5, strata_col="grp", mega_strata_threshold=1).collect()}
    win_f = {tuple(r) for r in quality_prune(null_strata, 0.5, strata_col="grp").collect()}
    assert two_f == win_f and len(win_f) > 0


def test_quality_prune_two_phase_randomized_equivalence(spark):
    """Randomized distributions (heavy ties, NULL scores, NULL strata,
    skewed stratum sizes) × frac ∈ {0, 1/3, 1}: the two-phase rank must
    equal the window spelling on every draw.  Deterministic seeds — a
    failure reproduces exactly."""
    import random

    from shapefile_rs_spark.operators.curation import quality_prune

    for seed in (7, 19, 311):
        rng = random.Random(seed)
        langs = ["en", "de", None, "zh", "fr"]
        rows = [
            (
                i,
                # skew: most rows land in the first stratum
                langs[min(rng.randrange(len(langs)), rng.randrange(len(langs)))],
                rng.choice([None] + [rng.randrange(5) for _ in range(3)]),  # many ties
            )
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, lang string, quality bigint")
        for frac in (0.0, 1.0 / 3.0, 1.0):
            two = {tuple(r) for r in quality_prune(df, frac, mega_strata_threshold=1).collect()}
            win = {tuple(r) for r in quality_prune(df, frac).collect()}
            assert two == win, f"seed={seed} frac={frac}"


def test_hashed_key_paths_match_string_key_paths(spark, sf_dir):
    """hash_keys=True (the int64-exchange default) must produce row-for-row
    identical output to the raw-string grouping — the collision-free case,
    which is every realistic corpus (expected 64-bit collisions at sf
    scale: ~0)."""
    from pyspark.sql import functions as F

    from shapefile_rs_spark.operators.dedup import dup_coverage, span_dedup_stats

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").alias("id"), "text")
        .limit(200)
    )
    for op, kw in ((span_dedup_stats, {"k": 5}), (dup_coverage, {"k": 8})):
        hashed = {tuple(r) for r in op(docs, id_col="id", hash_keys=True, **kw).collect()}
        raw = {tuple(r) for r in op(docs, id_col="id", hash_keys=False, **kw).collect()}
        assert hashed == raw


def test_quality_prune_percentile_threshold(spark):
    """Top-frac-per-stratum pruning: exact ceil threshold per stratum,
    (score desc, id asc) tie-break, frac=1 keeps everything, and the
    keep-set is partitioning-independent."""
    import pytest as _pytest

    from shapefile_rs_spark.operators.curation import quality_prune

    rows = [("en", i, 100 - (i % 5)) for i in range(10)]  # scores 96..100, ties
    rows += [("de", 100 + i, 50) for i in range(3)]  # all-tied stratum
    df = spark.createDataFrame(rows, "lang string, doc_id bigint, quality bigint")
    kept = quality_prune(df, frac=0.3).collect()
    by_lang: dict = {}
    for r in kept:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # en: ceil(10*0.3)=3 → the three score-100 docs (ids 0,5 …) — ties on
    # score resolve by id asc → ids 0 and 5 are score 100, next is 1 (99)
    assert by_lang["en"] == {0, 5, 1}
    # de: ceil(3*0.3)=1 → lowest id of the all-tied stratum
    assert by_lang["de"] == {100}
    assert {r["doc_id"] for r in quality_prune(df, frac=1.0).collect()} == {
        r[1] for r in rows
    }
    rep = quality_prune(df.repartition(5, "doc_id"), frac=0.3).collect()
    assert {(r["lang"], r["doc_id"]) for r in rep} == {
        (r["lang"], r["doc_id"]) for r in kept
    }
    with _pytest.raises(ValueError):
        quality_prune(df, frac=1.5)


def test_decontaminate_sql_twin_null_text_parity(spark):
    """A null-text doc must appear as (id, 0, false) in BOTH the operator
    and the DuckDB twin (the twin left-joins back from the docs relation,
    not from the shingle explosion that drops the doc)."""
    import duckdb

    from shapefile_rs_spark.operators.curation import decontaminate, decontaminate_sql

    docs = [(1, "alpha beta gamma delta"), (2, None), (3, "one two three four")]
    bench = [(9, "alpha beta gamma delta")]
    sdocs = spark.createDataFrame(docs, "doc_id bigint, text string")
    sbench = spark.createDataFrame(bench, "doc_id bigint, text string")
    got = sorted(
        (r.doc_id, r.n_overlap, r.contaminated)
        for r in decontaminate(sdocs, sbench, k=4).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    con.execute("CREATE TABLE b (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO b VALUES (?, ?)", bench)
    sql = decontaminate_sql("SELECT * FROM d", "SELECT * FROM b", k=4)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    assert (2, 0, False) in got


def test_span_dedup_stats(spark):
    """Exact copies share every span; a unique doc shares none; the tail
    span may be short but still counts."""
    from shapefile_rs_spark.operators.dedup import span_dedup_stats

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),   # 2 full spans
            (2, "a b c d e f g h i j"),   # exact copy -> all spans dup
            (3, "q r s t u v w"),          # unique: span2 = 'v w' (short tail)
        ],
        "id bigint, text string",
    )
    rows = {r.id: (r.n_spans, r.n_dup_spans, r.dup_frac) for r in span_dedup_stats(df, k=5).collect()}
    assert rows[1] == (2, 2, 1.0) and rows[2] == (2, 2, 1.0)
    assert rows[3] == (2, 0, 0.0)


def test_hash_twins_bit_identical(spark):
    """The Arrow-batched token/shingle hash twins must equal the HOF
    spellings bit-for-bit, including NULL text (token: null array; shingle:
    the single ''-shingle the HOF's concat_ws produces), empty text, and
    texts shorter than k."""
    from shapefile_rs_spark.operators.dedup import (
        shingle_hashes,
        shingle_token_hashes_pd,
        token_hashes,
        token_hashes_pd,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, ""), (4, "one two")],
        "id bigint, text string",
    )
    hof = df.select(
        "id",
        token_hashes(F.col("text")).alias("h"),
        shingle_hashes(word_shingles(F.col("text"), 3)).alias("s"),
    ).collect()
    pd_ = df.select(
        "id",
        token_hashes_pd(F.col("text")).alias("h"),
        shingle_token_hashes_pd(F.col("text"), 3).alias("s"),
    ).collect()
    assert {r.id: (r.h, r.s) for r in hof} == {r.id: (r.h, r.s) for r in pd_}


def test_simhash_pairs_pigeonhole_and_refine(spark):
    """Identical docs pair at hamming 0; a crafted near-identical doc pairs
    within radius; the pigeonhole multi-index finds every pair with
    hamming <= bands-1 (cross-checked against an all-pairs popcount)."""
    from shapefile_rs_spark.operators.dedup import simhash, simhash_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                                 # exact copy -> hamming 0
            (3, base + "tail word"),                   # near copy
            (4, "entirely different content " * 8),
        ],
        "id bigint, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(docs, id_col="id", bands=4, radius=3).collect()
    }
    assert pairs[(1, 2)] == 0
    # oracle: all-pairs popcount from the fingerprints themselves (same
    # 60-bit width as simhash_pairs' default)
    fps = {r.id: r.simhash for r in simhash(docs, id_col="id", bits=60).collect()}
    ids = sorted(fps)
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert pairs == want


def test_simhash_bits_ceiling():
    """Fingerprints wider than 60 bits are rejected: token hashes carry 60
    informative bits, and bit 63 would wrap the int64 sign, silently
    diverging the Spark block keys from the DuckDB twin (ADVICE r3)."""
    import pytest

    from shapefile_rs_spark.operators.dedup import (
        simhash_from_hashes,
        simhash_from_hashes_expr,
        simhash_sql,
    )

    for fn in (simhash_from_hashes, simhash_from_hashes_expr):
        with pytest.raises(AssertionError):
            fn(F.lit(None), bits=64)
    with pytest.raises(AssertionError):
        simhash_sql("text", bits=64)


def test_simhash_pairs_bucket_population_and_cap(spark):
    """Band-bucket telemetry on a same-domain corpus: 15-bit blocks keep
    every (band, key) bucket far below the corpus size (the r3 8-bit-block
    config collapsed all docs into ≤256 buckets per band), and bucket_cap
    drops a planted boilerplate bucket whole — identical-text docs (one
    shared fingerprint ⇒ one bucket per band) stop producing the B² pair
    blowup while distinct near-dups still pair."""
    from shapefile_rs_spark.operators.dedup import simhash_banded, simhash_pairs

    base = "shared domain header words common to every page "
    n, hot = 60, 30
    rows = [(i, base + f"doc {i} body content item {i * 7} {i * 13}") for i in range(n)]
    rows += [(1000 + i, "identical boilerplate page " * 5) for i in range(hot)]
    docs = spark.createDataFrame(rows, "id bigint, text string")

    pops = (
        simhash_banded(docs, id_col="id", bits=60, bands=4)
        .groupBy("_band", "_key")
        .count()
        .collect()
    )
    by_band: dict = {}
    for r in pops:
        by_band.setdefault(r["_band"], []).append(r["count"])
    assert set(by_band) == {0, 1, 2, 3}
    for band, counts in by_band.items():
        # the boilerplate clones share one bucket (population `hot`); every
        # OTHER bucket must stay tiny — same-domain text must not saturate
        # the 32768-value block space the way 256-value blocks did
        assert max(counts) == hot
        assert sorted(counts)[-2] <= 10
    capped = simhash_pairs(
        docs, id_col="id", bits=60, bands=4, radius=2, bucket_cap=hot - 1
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert all(a < 1000 and b < 1000 for a, b in got), "hot bucket not dropped"


def test_dup_coverage_property_vs_python_oracle(spark):
    """Property test against an INDEPENDENT pure-Python interval-union
    oracle (a third implementation beside the Spark plan and the DuckDB
    twin): on a randomized corpus of repeated/overlapping/unique docs,
    coverage equals the brute-force union and the invariants hold
    (0 <= covered <= n_tokens, frac in [0, 1], dup grams <= gram count)."""
    import random

    rng = random.Random(0xC0FFEE)
    vocab = [f"w{j}" for j in range(12)]  # tiny vocab → heavy gram overlap
    rows = []
    for i in range(60):
        n = rng.randint(1, 14)  # includes sub-k docs
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    k = 4

    def py_oracle():
        texts = {i: t.split(" ") for i, t in rows}
        grams: dict = {}
        for i, words in texts.items():
            n = max(1, len(words) - k + 1)
            for p in range(n):
                grams.setdefault(" ".join(words[p : p + k]), []).append((i, p))
        want = {}
        for i, words in texts.items():
            covered = set()
            n = max(1, len(words) - k + 1)
            dup_pos = [
                p
                for p in range(n)
                if len(grams[" ".join(words[p : p + k])]) > 1
            ]
            for p in dup_pos:
                covered.update(range(p, min(p + k, len(words))))
            want[i] = (len(words), len(dup_pos), len(covered))
        return want

    from shapefile_rs_spark.operators.dedup import dup_coverage

    df = spark.createDataFrame(rows, "id bigint, text string")
    got = {r["id"]: r for r in dup_coverage(df, id_col="id", k=k).collect()}
    want = py_oracle()
    for i, (nt, ndup, cov) in want.items():
        r = got[i]
        assert (r["n_tokens"], r["n_dup_grams"], r["covered_tokens"]) == (nt, ndup, cov), (
            i, dict(r.asDict()), (nt, ndup, cov))
        assert 0.0 <= r["dup_cov_frac"] <= 1.0


def test_rank_operators_null_score_parity_vs_duckdb(spark):
    """Null ordering is a config-drift trap: DuckDB's bare DESC follows
    the SESSION setting default_null_order (nulls_last on this install,
    PostgreSQL-style NULLS FIRST elsewhere), and the sf fixtures carry no
    null scores, so the oracle gate could never catch a flip.  Pin the
    explicit NULLS LAST spelling on a null-bearing corpus for both rank
    operators, engine-vs-engine — including under a reconfigured oracle
    session."""
    import duckdb

    from shapefile_rs_spark.operators.curation import (
        host_cap,
        host_cap_sql,
        quality_prune,
        quality_prune_sql,
    )

    rows = [
        ("a.com", 1, 90),
        ("a.com", 2, None),   # unscored: must rank LAST, not first
        ("a.com", 3, 95),
        ("a.com", 4, None),
        ("b.org", 5, None),   # all-null host
        ("b.org", 6, None),
    ]
    df = spark.createDataFrame(rows, "host string, doc_id bigint, quality bigint")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (host VARCHAR, doc_id BIGINT, quality BIGINT); "
        + "INSERT INTO t VALUES "
        + ", ".join(
            f"('{h}', {i}, {'NULL' if q is None else q})" for h, i, q in rows
        )
    )
    base = "SELECT doc_id, host, quality FROM t"

    s = sorted(
        (r["host"], r["doc_id"], r["host_rank"])
        for r in host_cap(df, cap=3, host_col="host").collect()
    )
    d = sorted(
        (r[1], r[0], r[3])
        for r in con.execute(host_cap_sql(base, cap=3, host_col="host")).fetchall()
    )
    assert s == d
    # scored docs outrank unscored within a.com: 3 (95), 1 (90), then 2 (null)
    assert [x for x in s if x[0] == "a.com"] == [
        ("a.com", 1, 2), ("a.com", 2, 3), ("a.com", 3, 1)
    ]

    sp = sorted(
        (r["host"], r["doc_id"], r["q_rank"])
        for r in quality_prune(
            df, frac=0.5, strata_col="host", order_col="quality"
        ).collect()
    )
    dp = sorted(
        (r[1], r[0], r[3])
        for r in con.execute(
            quality_prune_sql(base, frac=0.5, strata_col="host", order_col="quality")
        ).fetchall()
    )
    assert sp == dp
    # the explicit NULLS LAST must survive a PostgreSQL-style session:
    # flip DuckDB's default and re-run — identical result
    con.execute("SET default_null_order='nulls_first'")
    d2 = sorted(
        (r[1], r[0], r[3])
        for r in con.execute(host_cap_sql(base, cap=3, host_col="host")).fetchall()
    )
    assert d2 == d


def test_minhash_lsh_join_incremental_recall(spark):
    """Asymmetric (new batch × existing corpus) LSH: every near-dup variant
    recovers its original with high signature agreement; an unrelated new
    doc pairs with nothing; the corpus-side bucket cap drops boilerplate
    buckets without touching ordinary ones; sides are never self-paired."""
    from shapefile_rs_spark.operators.dedup import minhash_lsh_join

    corpus_rows = [
        (i, f"document number {i} about topic {i % 7} with plenty of unique words "
            f"item {i * 13} value {i * 31} end")
        for i in range(40)
    ]
    corpus_rows += [(100 + i, "identical boilerplate footer " * 4) for i in range(60)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    new_rows = [(1000 + i, corpus_rows[i][1] + " recrawl suffix") for i in range(10)]
    new_rows.append((2000, "entirely novel content nothing in common with corpus docs"))
    new_rows.append((2001, "identical boilerplate footer " * 4 + "recrawl suffix"))
    new = spark.createDataFrame(new_rows, "doc_id bigint, text string")

    got = {
        (r["new_id"], r["corpus_id"]): r["n_agree"]
        for r in minhash_lsh_join(new, corpus, id_col="doc_id", bucket_cap=50).collect()
    }
    # every variant recovers its original (suffix only shifts tail shingles)
    for i in range(10):
        assert (1000 + i, i) in got and got[(1000 + i, i)] >= 6
    # the novel doc pairs with nothing
    assert not any(n == 2000 for n, _ in got)
    # the boilerplate bucket (60 docs > cap 50) is dropped corpus-side:
    # the boilerplate-derived new doc finds NO corpus partner
    assert not any(n == 2001 for n, _ in got)


# ---------------------------------------------------------------------------
# round 6: Bloom decontamination, token-budget sampling, keep-best dedup
# ---------------------------------------------------------------------------


def _decon_tiny(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "epsilon zeta eta theta"),
            (3, None),
            (4, "alpha beta gamma delta extra words here"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id bigint, text string"
    )
    return docs, bench


def test_bloom_no_false_negatives_and_prefilter_drops(spark):
    """The two Bloom contracts: every built gram probes positive (no false
    negatives — correctness), and at a roomy bitset unrelated grams drop
    (the prefilter actually filters — the scale property)."""
    from shapefile_rs_spark.operators.curation import (
        _exploded_distinct_shingles,
        bloom_build,
        bloom_prefilter,
    )

    docs, bench = _decon_tiny(spark)
    bg = (
        _exploded_distinct_shingles(bench, "doc_id", "text", 3)
        .select("_g")
        .distinct()
        .localCheckpoint(eager=True)
    )
    bits = bloom_build(bg, m_bits=1 << 16)
    assert bloom_prefilter(bg, bits, 1 << 16).count() == bg.count()
    dg = _exploded_distinct_shingles(docs, "doc_id", "text", 3).localCheckpoint(
        eager=True
    )
    surv = bloom_prefilter(dg, bits, 1 << 16)
    assert surv.count() < dg.count()  # non-bench grams dropped
    # survivors contain every true hit (prefilter is a superset filter)
    assert surv.join(bg, "_g").count() == dg.join(bg, "_g").count()
    with pytest.raises(ValueError):
        bloom_build(bg, m_bits=100)  # not byte-addressed
    with pytest.raises(ValueError):
        bloom_prefilter(dg, bits, 1 << 8)  # bitset/m mismatch


def test_decontaminate_bloom_equals_exact_even_saturated(spark):
    """m_bits=64 saturates the bitset (dozens of grams × 4 hashes into 64
    bits) → nearly every gram is a false positive; the exact confirm join
    must erase them all, leaving output row-identical to decontaminate."""
    from shapefile_rs_spark.operators.curation import (
        decontaminate,
        decontaminate_bloom,
    )

    docs, bench = _decon_tiny(spark)
    exact = {tuple(r) for r in decontaminate(docs, bench, k=3).collect()}
    assert any(r[2] for r in exact) and any(not r[2] for r in exact)
    for m in (64, 1 << 16):
        out = decontaminate_bloom(docs, bench, k=3, m_bits=m)
        got = {tuple(r) for r in out.collect()}
        assert got == exact, f"m_bits={m}"
    with pytest.raises(ValueError):
        decontaminate_bloom(docs, bench, k=3, m_bits=100)


def _budget_frame(spark):
    """120 docs over 3 strata (one NULL), null token counts sprinkled in,
    equal-token ties everywhere — the edge surface both budget_sample
    plans must agree on."""
    rows = []
    for i in range(120):
        lang = [None, "en", "fr"][i % 3]
        tok = None if i % 17 == 5 else (i * 7) % 23 + 1
        rows.append((i, lang, tok))
    return spark.createDataFrame(rows, "doc_id bigint, lang string, n_tokens bigint")


def test_budget_sample_two_phase_matches_window(spark):
    from shapefile_rs_spark.operators.curation import budget_sample

    frame = _budget_frame(spark)
    for budget in (0, 1, 37, 150, 10**6):
        window = {tuple(r) for r in budget_sample(frame, budget).collect()}
        two = budget_sample(frame, budget, mega_strata_threshold=1)
        got = {tuple(r) for r in two.collect()}
        assert got == window, f"budget={budget}"
    # threshold above every stratum stays on the window plan — same rows
    big = {
        tuple(r)
        for r in budget_sample(frame, 37, mega_strata_threshold=10**9).collect()
    }
    assert big == {tuple(r) for r in budget_sample(frame, 37).collect()}
    auto = budget_sample(frame, 37, mega_strata_threshold="auto")
    got = {tuple(r) for r in auto.collect()}
    assert got == big


def test_budget_sample_semantics(spark):
    from shapefile_rs_spark.operators.curation import budget_sample

    frame = _budget_frame(spark)
    assert budget_sample(frame, 0).count() == 0
    with pytest.raises(ValueError):
        budget_sample(frame, -1)
    small = {r["doc_id"] for r in budget_sample(frame, 30).collect()}
    large = {r["doc_id"] for r in budget_sample(frame, 90).collect()}
    assert small < large  # monotone: raising the budget only adds docs
    # a positive budget keeps at least one doc per non-empty stratum,
    # and per-stratum kept tokens minus the boundary doc stay under budget
    kept = budget_sample(frame, 30).collect()
    strata = {r["lang"] for r in frame.collect()}
    assert {r["lang"] for r in kept} == strata
    for s in strata:
        s_rows = [r for r in kept if r["lang"] == s]
        assert all(r["cum_before"] < 30 for r in s_rows)


def test_budget_sample_two_phase_guards(spark):
    from shapefile_rs_spark.operators.curation import budget_sample

    dup = spark.createDataFrame(
        [(1, "en", 5), (1, "en", 6), (2, "en", 7)],
        "doc_id bigint, lang string, n_tokens bigint",
    )
    with pytest.raises(ValueError, match="duplicates"):
        budget_sample(dup, 100, mega_strata_threshold=1).collect()
    nul = spark.createDataFrame(
        [(None, "en", 5), (2, "en", 7)],
        "doc_id bigint, lang string, n_tokens bigint",
    )
    with pytest.raises(ValueError, match="null"):
        budget_sample(nul, 100, mega_strata_threshold=1).collect()
    nan = spark.createDataFrame(
        [(1, float("nan"), 5), (2, 1.0, 7)],
        "doc_id bigint, grp double, n_tokens bigint",
    )
    with pytest.raises(ValueError, match="NaN"):
        budget_sample(nan, 100, strata_col="grp", mega_strata_threshold=1)
    with pytest.raises(ValueError, match="expected an int"):
        budget_sample(dup.limit(1), 100, mega_strata_threshold="AUTO-ish")


def test_mix_weights_escaped_target_strata_match_duckdb(spark):
    """Target strata spelled with a backslash — one in the corpus, one
    only in the targets — give the DuckDB twin's rows: no phantom
    stratum decoded from an escape, and the target-only stratum keeps
    its own name and target."""
    import duckdb

    from shapefile_rs_spark.operators.curation import mix_weights, mix_weights_sql

    docs = [(1, "a\\b", 5), (2, "en", 7), (3, "en", 1)]
    targets = {"a\\b": 300, "x\\ny": 100, "en": 200}
    sdocs = spark.createDataFrame(docs, "doc_id bigint, lang string, n_tokens bigint")
    got = sorted(tuple(r) for r in mix_weights(sdocs, targets, 1000).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, lang VARCHAR, n_tokens BIGINT)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?)", docs)
    sql = mix_weights_sql("SELECT * FROM d", targets, 1000)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    assert [r[0] for r in got] == ["a\\b", "en", "x\\ny"]
    assert dict((r[0], r[2]) for r in got)["x\\ny"] == 100


def test_mix_weights_and_dict_budget(spark):
    """Allocation caps at availability (deficit reported), unlisted
    strata appear as target-0 rows, over-allocated mixtures reject, and
    a dict budget cuts each stratum at its own threshold — matching the
    scalar path per stratum and dropping unlisted strata at
    default_budget=0."""
    from shapefile_rs_spark.operators.curation import budget_sample, mix_weights

    frame = _budget_frame(spark).filter(F.col("lang").isNotNull())
    avail = {
        r["lang"]: r["t"]
        for r in frame.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()
    }
    # en asks for more than it has (deficit), fr for less (full alloc)
    mix = {
        r["lang"]: r
        for r in mix_weights(frame, {"en": 900}, 2 * avail["en"]).collect()
    }
    assert mix["en"]["available_tokens"] == avail["en"]
    assert mix["en"]["alloc_tokens"] == avail["en"]  # capped
    assert mix["en"]["deficit"] == mix["en"]["target_tokens"] - avail["en"] > 0
    assert mix["fr"]["target_tokens"] == 0 and mix["fr"]["deficit"] == 0
    with pytest.raises(ValueError, match="per-mille"):
        mix_weights(frame, {"en": 600, "fr": 500}, 100)
    with pytest.raises(ValueError, match="negative mixture"):
        mix_weights(frame, {"en": -1}, 100)

    cut = budget_sample(frame, budget={"en": 40, "fr": 25})
    rows = cut.collect()
    assert {r["lang"] for r in rows} == {"en", "fr"}  # unlisted strata drop
    for lang, b in (("en", 40), ("fr", 25)):
        got = {r["doc_id"] for r in rows if r["lang"] == lang}
        scalar = {
            r["doc_id"]
            for r in budget_sample(frame, b).collect()
            if r["lang"] == lang
        }
        assert got == scalar, lang
    # default_budget keeps unlisted strata at its own threshold
    dflt = budget_sample(frame, budget={"en": 40}, default_budget=25).collect()
    assert {r["doc_id"] for r in dflt if r["lang"] == "fr"} == {
        r["doc_id"] for r in rows if r["lang"] == "fr"
    }
    with pytest.raises(ValueError, match="negative budget"):
        budget_sample(frame, budget={"en": -5})
    with pytest.raises(ValueError, match="None stratum"):
        budget_sample(frame, budget={None: 10, "en": 5})
    with pytest.raises(ValueError, match="None stratum"):
        mix_weights(frame, {None: 100}, 1000)
    # a target stratum with NO documents must surface its full deficit
    ghost = {
        r["lang"]: r for r in mix_weights(frame, {"ja": 100}, 5000).collect()
    }
    assert ghost["ja"]["available_tokens"] == 0
    assert ghost["ja"]["alloc_tokens"] == 0
    assert ghost["ja"]["deficit"] == ghost["ja"]["target_tokens"] == 500


def test_token_prefix_rejects_negative_tokens(spark):
    """A negative token count would silently corrupt every later offset
    in its stratum (window sum and two-phase alike) — both paths must
    raise at evaluation instead."""
    from shapefile_rs_spark.operators.curation import budget_sample, seq_pack

    bad = spark.createDataFrame(
        [(1, "en", 5), (2, "en", -3), (3, "en", 7)],
        "doc_id bigint, lang string, n_tokens bigint",
    )
    with pytest.raises(Exception, match="negative n_tokens"):
        budget_sample(bad, 100).collect()
    with pytest.raises(Exception, match="negative n_tokens"):
        budget_sample(bad, 100, mega_strata_threshold=1).collect()
    with pytest.raises(Exception, match="negative n_tokens"):
        seq_pack(bad, 16).collect()


def test_bloom_hash_column_collision_rejected(spark):
    from shapefile_rs_spark.operators.curation import bloom_prefilter

    grams = spark.createDataFrame([("a", 1)], "_g string, _h1 bigint")
    with pytest.raises(ValueError, match="_h1"):
        bloom_prefilter(grams, bytes(8), 64)


def test_seq_pack_invariants(spark):
    """Pack-and-split invariants: every bin except a stratum's last is
    exactly full, a document's bin rows sum to its token count, zero/null
    token docs occupy no bin, and multi-bin spans exist in the fixture
    (else the boundary arithmetic is untested)."""
    from shapefile_rs_spark.operators.curation import seq_pack

    frame = _budget_frame(spark)
    cap = 16
    rows = seq_pack(frame, capacity=cap).collect()
    toks = {
        r["doc_id"]: r["n_tokens"]
        for r in frame.collect()
        if (r["n_tokens"] or 0) > 0
    }
    assert {r["doc_id"] for r in rows} == set(toks)  # zero/null docs dropped
    by_doc: dict = {}
    by_bin: dict = {}
    for r in rows:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + r["bin_tokens"]
        key = (r["lang"], r["bin_id"])
        by_bin[key] = by_bin.get(key, 0) + r["bin_tokens"]
        assert 0 < r["bin_tokens"] <= cap
    assert by_doc == toks  # conservation: every token lands in exactly one bin
    last_bin = {}
    for (s, b) in by_bin:
        last_bin[s] = max(last_bin.get(s, -1), b)
    for (s, b), t in by_bin.items():
        if b != last_bin[s]:
            assert t == cap, f"non-final bin ({s},{b}) holds {t} != {cap}"
    assert any(  # the fixture must actually exercise boundary spanning
        len([r for r in rows if r["doc_id"] == d]) > 1 for d in toks
    )
    with pytest.raises(ValueError, match="capacity"):
        seq_pack(frame, capacity=0)


def test_seq_pack_two_phase_matches_window(spark):
    from shapefile_rs_spark.operators.curation import seq_pack

    frame = _budget_frame(spark)
    for cap in (1, 16, 10**6):
        window = {tuple(r) for r in seq_pack(frame, cap).collect()}
        two = seq_pack(frame, cap, mega_strata_threshold=1)
        got = {tuple(r) for r in two.collect()}
        assert got == window, f"capacity={cap}"


def test_para_dedup(spark):
    """Doc 1 (md5-first) keeps every chunk; doc 2's copied body vanishes
    and only its unique tail survives; empty and sub-min_len paragraphs
    are always kept; the keep-set is identical at any partitioning."""
    from shapefile_rs_spark.operators.dedup import chunk_words, para_dedup

    rows = [
        (1, "alpha beta gamma delta echo fox golf hotel india juliet kilo lima"),
        (2, "alpha beta gamma delta echo fox golf hotel india juliet kilo lima extra tail"),
        (3, ""),
        (4, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    chunked = df.select("doc_id", chunk_words(F.col("text"), 4).alias("text"))
    expect = {
        (1, 3, 3, "alpha beta gamma delta\necho fox golf hotel\nindia juliet kilo lima"),
        (2, 4, 1, "extra tail"),
        (3, 1, 1, ""),
        (4, 1, 1, "solo"),
    }
    got = {tuple(r) for r in para_dedup(chunked, id_col="doc_id").collect()}
    assert got == expect
    resharded = {
        tuple(r)
        for r in para_dedup(chunked.repartition(7), id_col="doc_id").collect()
    }
    assert resharded == expect  # deterministic at any partitioning
    # min_len above every paragraph length disables dedup entirely
    all_kept = para_dedup(chunked, id_col="doc_id", min_len=100).collect()
    assert all(r["n_kept"] == r["n_paras"] for r in all_kept)
    with pytest.raises(ValueError, match="words"):
        chunk_words(F.col("text"), 0)


def test_para_dedup_incremental(spark):
    """Committed content wins unconditionally: a batch paragraph in the
    registry drops even when the batch doc's md5 would out-rank the
    corpus doc under global para_dedup; batch-internal dups keep the
    first occurrence; short paragraphs never consult the registry; and
    registry(corpus) ∪ new_paras == registry(corpus ∪ batch), so the
    incremental path converges to the from-scratch registry."""
    from shapefile_rs_spark.operators.dedup import (
        para_dedup_incremental,
        para_registry,
    )

    corpus = spark.createDataFrame(
        [(100, "shared chunk one\nold only chunk")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, "shared chunk one\nnew chunk alpha\nx"),
            (2, "new chunk alpha\nnew chunk beta"),
        ],
        "doc_id bigint, text string",
    )
    reg = para_registry(corpus)
    cleaned, new_paras = para_dedup_incremental(batch, reg)
    got = {r["doc_id"]: r for r in cleaned.collect()}
    # doc 1: registry kills "shared chunk one"; wins "new chunk alpha"
    # iff its (md5, id, idx) beats doc 2's — md5(1) < md5(2) here; "x"
    # is >= min_len (1 char) and unique, kept
    assert got[1]["text_dedup"] == "new chunk alpha\nx"
    assert got[2]["text_dedup"] == "new chunk beta"
    assert got[1]["n_paras"] == 3 and got[1]["n_kept"] == 2
    union = {r["para"] for r in reg.collect()} | {
        r["para"] for r in new_paras.collect()
    }
    scratch = {
        r["para"]
        for r in para_registry(corpus.unionByName(batch)).collect()
    }
    assert union == scratch  # incremental converges to from-scratch


def test_dedup_keep_best(spark):
    """Cluster {1,2,3}: top score ties on 2,3 → min id 2 kept.  Cluster
    {4,5}: both unscored (NULLS LAST) → id tie-break keeps 4.  Doc 6 is a
    singleton: own cluster, always kept."""
    from shapefile_rs_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, None), (5, None), (6, 7)],
        "doc_id bigint, quality bigint",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a bigint, id_b bigint"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["kept"])
        for r in dedup_keep_best(docs, pairs).collect()
    }
    assert got == {
        1: (1, 3, False),
        2: (1, 3, True),
        3: (1, 3, False),
        4: (4, 2, True),
        5: (4, 2, False),
        6: (6, 1, True),
    }


def test_line_prune(spark):
    """A line in >= max_docs DISTINCT docs vanishes EVERYWHERE (no winner
    kept — the boilerplate contract, vs para_dedup's keep-first); a line
    repeated only within one doc survives every occurrence (doc-frequency,
    not occurrence-frequency); sub-min_len lines are always kept; the
    output is identical at any partitioning and a higher threshold keeps
    everything."""
    from shapefile_rs_spark.operators.dedup import line_prune

    rows = [
        (1, "shared body line\nunique to one"),
        (2, "shared body line\nunique to two"),
        (3, "intra dup\nintra dup"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    expect = {
        (1, 2, 1, "unique to one"),
        (2, 2, 1, "unique to two"),
        (3, 2, 2, "intra dup\nintra dup"),
        (4, 1, 1, ""),
    }
    got = {tuple(r) for r in line_prune(df, max_docs=2).collect()}
    assert got == expect
    resharded = {
        tuple(r) for r in line_prune(df.repartition(7), max_docs=2).collect()
    }
    assert resharded == expect
    # threshold above the max doc-frequency removes nothing
    kept_all = line_prune(df, max_docs=3).collect()
    assert all(r["n_kept"] == r["n_lines"] for r in kept_all)
    # min_len above every line length disables pruning entirely
    assert all(
        r["n_kept"] == r["n_lines"]
        for r in line_prune(df, max_docs=2, min_len=100).collect()
    )
    # a doc that is ALL boilerplate survives as an empty-text row
    df2 = spark.createDataFrame(
        [(1, "only line"), (2, "only line"), (3, "only line")],
        "doc_id bigint, text string",
    )
    got2 = {tuple(r) for r in line_prune(df2, max_docs=2).collect()}
    assert got2 == {(1, 1, 0, ""), (2, 1, 0, ""), (3, 1, 0, "")}


def test_mix_temp(spark):
    """√-scaled shares: equal-budget math checks out by hand, the cap
    binds on a tiny stratum when α<1 over-asks it, zero-weight strata get
    zero, and a 2⁶⁰ budget allocates exactly (no int64 overflow — the
    div/mod decomposition never forms budget × weight)."""
    from shapefile_rs_spark.operators.curation import mix_temp

    rows = [("a", 100), ("b", 400), ("c", 0), ("a", 0)]
    df = spark.createDataFrame(rows, "lang string, n_tokens bigint")
    # weights: a=⌊√100⌋=10, b=⌊√400⌋=20, c=0; W=30
    got = {r["lang"]: tuple(r)[1:] for r in mix_temp(df, 90).collect()}
    assert got["a"] == (100, 10, 30, 30, 0)
    assert got["b"] == (400, 20, 60, 60, 0)
    assert got["c"] == (0, 0, 0, 0, 0)
    # cap binds: budget 3000 asks a for 1000 > its 100 available
    got = {r["lang"]: tuple(r)[1:] for r in mix_temp(df, 3000).collect()}
    assert got["a"] == (100, 10, 1000, 100, 900)
    assert got["b"] == (400, 20, 2000, 400, 1600)
    # overflow-safe: budget * weight would exceed 2^63; targets must equal
    # exact python integer math budget * w // W
    big = 2**60
    got = {r["lang"]: r["target_tokens"] for r in mix_temp(df, big).collect()}
    assert got["a"] == big * 10 // 30
    assert got["b"] == big * 20 // 30
    with pytest.raises(ValueError, match="negative"):
        mix_temp(df, -1)


def test_pq_encode_and_topk(spark):
    """Hand-checked PQ on a 4-dim/2-subspace/2-row codebook: codes match
    the per-subspace nearest codebook row, ADC distances rank by the LUT
    sums, and two vectors with mathematically equal ADC distance fall to
    the vec_id tie-break; bad geometry and a gapped codebook id space
    fail loudly."""
    import numpy as np
    import pytest as _pt

    from shapefile_rs_spark.operators.similarity import (
        pq_codebook,
        pq_codes,
        pq_topk,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 1.0, 1.0, 1.0]),
        (2, [0.0, 0.0, 1.0, 1.0]),
        (3, [0.9, 0.9, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = pq_codebook(vecs, ksub=2)
    assert cb.shape == (2, 4)
    got = {r["vec_id"]: (r["c0"], r["c1"]) for r in pq_codes(vecs, cb, n_sub=2).collect()}
    assert got == {0: (0, 0), 1: (1, 1), 2: (0, 1), 3: (1, 0)}
    q = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0])], "query_id bigint, q_embedding array<double>"
    )
    ranks = {
        r["vec_id"]: r["rnk"]
        for r in pq_topk(vecs, q, cb, k=4, n_sub=2).collect()
    }
    # ADC dists: v0=0, v2=2, v3=2, v1=4 — the v2/v3 tie is bit-exact
    # (same LUT entries summed), so vec_id breaks it
    assert ranks == {0: 1, 2: 2, 3: 3, 1: 4}
    with _pt.raises(ValueError, match="divisible"):
        pq_codes(vecs, cb, n_sub=3)  # driver-side fail-fast, no job launched
    gapped = vecs.filter(F.col("vec_id") != 1)
    with _pt.raises(ValueError, match="contiguous"):
        pq_codebook(gapped, ksub=2)


def test_line_prune_incremental(spark):
    """A batch line drops when registry + batch doc-frequency crosses the
    threshold (corpus content already shipped counts); batch-internal
    boilerplate drops with no registry hit at all; the cleaned batch
    EQUALS global line_prune over corpus ∪ batch restricted to batch
    docs; and merging the delta into the registry by per-line sum
    reconstructs the from-scratch registry exactly."""
    from shapefile_rs_spark.operators.dedup import (
        line_prune,
        line_prune_incremental,
        line_registry,
    )

    corpus = spark.createDataFrame(
        [(100, "shared chunk\ncorpus only")], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, "shared chunk\nbatch unique one"),
            (2, "batch dup\nb2"),
            (3, "batch dup\nb3"),
        ],
        "doc_id bigint, text string",
    )
    reg = line_registry(corpus)
    cleaned, delta = line_prune_incremental(batch, reg, max_docs=2)
    got = {tuple(r) for r in cleaned.collect()}
    assert got == {
        (1, 2, 1, "batch unique one"),  # "shared chunk": 1 (reg) + 1 = 2 → gone
        (2, 2, 1, "b2"),  # "batch dup": batch-internal freq 2 → gone
        (3, 2, 1, "b3"),
    }
    # incremental == global restricted to the batch (retraction-free zone)
    union = corpus.unionByName(batch)
    glob = {
        tuple(r)
        for r in line_prune(union, max_docs=2)
        .filter(F.col("doc_id") < 100)
        .collect()
    }
    assert {tuple(r) for r in cleaned.collect()} == {
        (r[0], r[1], r[2], r[3]) for r in glob
    }
    # registry(corpus) + delta(batch), merged by sum == registry(union)
    merged = {
        (r["line"], r["n_docs"])
        for r in reg.unionByName(delta)
        .groupBy("line")
        .agg(F.sum("n_docs").alias("n_docs"))
        .collect()
    }
    scratch = {(r["line"], r["n_docs"]) for r in line_registry(union).collect()}
    assert merged == scratch


def test_domain_rank(spark):
    """Fixed-point endorsement iteration on a hand-checkable 3-node
    graph: one round matches exact integer math, a sink node receives and
    never sends, zero iterations returns the uniform init, the output is
    identical at any partitioning (pure int64 — no float sum order), and
    bad damping fails loudly."""
    from shapefile_rs_spark.operators.graph import domain_rank

    # 0 -> 1, 0 -> 2, 1 -> 2 ; node 2 is a sink (appears only as dst)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)], "src bigint, dst bigint"
    )
    S = 10**12
    base = 15 * S // 100
    got = {r["host"]: r["score"] for r in domain_rank(edges, iterations=1).collect()}
    # contribs: 0 sends S//2 to both 1 and 2; 1 sends S//1 to 2
    assert got[0] == base
    assert got[1] == base + 85 * (S // 2) // 100
    assert got[2] == base + 85 * (S // 2 + S) // 100
    # rank order after one round: 2, 1, 0
    ranks = {
        r["host"]: r["rank"] for r in domain_rank(edges, iterations=1).collect()
    }
    assert ranks == {2: 1, 1: 2, 0: 3}
    # zero iterations: uniform init
    init = {r["score"] for r in domain_rank(edges, iterations=0).collect()}
    assert init == {S}
    # partitioning-independence (int sums are order-free)
    a = sorted(tuple(r) for r in domain_rank(edges, iterations=3).collect())
    b = sorted(
        tuple(r) for r in domain_rank(edges.repartition(7), iterations=3).collect()
    )
    assert a == b
    with pytest.raises(ValueError, match="damping"):
        domain_rank(edges, damping_pct=101)


def test_ivf_pq_topk_full_probe_equals_pq(spark):
    """With nprobe = n_centroids every cell is probed, so the candidate
    set is the whole corpus and IVFPQ must EQUAL plain PQ top-k — the
    composition adds pruning, never different arithmetic ((a-b)² and
    (b-a)² are bit-identical, and both paths use the same left-to-right
    LUT-sum association).  With nprobe=1 the result ranks only in-cell
    candidates (a strict subset)."""
    from shapefile_rs_spark.operators.similarity import (
        ivf_pq_topk,
        pq_codebook,
        pq_topk,
    )

    rows = [
        (0, [0.5, 0.0, 0.1, 0.0]),
        (1, [1.0, 1.0, 1.0, 1.0]),
        (2, [0.0, 0.0, 1.0, 1.0]),
        (3, [0.9, 0.9, 0.0, 0.0]),
        (4, [0.2, 0.1, 0.4, 0.3]),
        (5, [1.0, 0.9, 0.8, 0.7]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = pq_codebook(vecs, ksub=2)
    cents = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_embedding"),
    )
    q = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3, 0.4])], "query_id bigint, q_embedding array<double>"
    )
    full = sorted(
        tuple(r)
        for r in ivf_pq_topk(vecs, q, cents, cb, k=6, n_sub=2, nprobe=2).collect()
    )
    plain = sorted(tuple(r) for r in pq_topk(vecs, q, cb, k=6, n_sub=2).collect())
    assert full == plain
    pruned = ivf_pq_topk(vecs, q, cents, cb, k=6, n_sub=2, nprobe=1).collect()
    assert 0 < len(pruned) < len(plain)
    assert {r["vec_id"] for r in pruned} < {t[1] for t in plain}
    # Zero-norm contract: a vector with undefined cosine gets NO cell
    # assignment (assign_centroids drops it), so it is absent from the
    # IVFPQ index even at full probe — unlike plain PQ, which scores it.
    withzero = vecs.union(
        spark.createDataFrame(
            [(6, [0.0, 0.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
        )
    )
    fz = ivf_pq_topk(withzero, q, cents, cb, k=7, n_sub=2, nprobe=2).collect()
    assert {r["vec_id"] for r in fz} == {0, 1, 2, 3, 4, 5}


def test_semdedup_exists_rule_and_zero_norm(spark):
    """The drop rule is EXISTS-lower-id, not sequential greedy: in the
    chain a~b, b~c with a!~c, b dies to a AND c still dies to b (a
    greedy sweep that removes b before considering c would keep c).
    Zero-norm vectors get no cell assignment and vanish entirely."""
    from shapefile_rs_spark.operators.similarity import semdedup

    # unit vectors at angles 0°, 10°, 20°: cos(10°)≈0.985 ≥ 0.98 for the
    # adjacent pairs, cos(20°)≈0.940 < 0.98 for the far pair
    import math

    rows = [
        (0, [1.0, 0.0]),
        (1, [math.cos(math.radians(10)), math.sin(math.radians(10))]),
        (2, [math.cos(math.radians(20)), math.sin(math.radians(20))]),
        (3, [0.0, 1.0]),
        (4, [0.0, 0.0]),  # zero norm: dropped at assignment
    ]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id bigint, c_embedding array<double>"
    )
    kept = {r["vec_id"] for r in semdedup(vecs, cents, threshold=0.98).collect()}
    assert kept == {0, 3}  # 1 dies to 0; 2 dies to 1 (even though 1 died)


def test_kmeans_fp_partition_invariance_and_empty_cluster(spark):
    """Fixed-point k-means is bit-identical under ANY partitioning (the
    operator's whole reason to exist: int64 sums commute exactly), an
    empty cluster carries its previous quantized centroid with n=0, and
    _tdiv matches Spark DIV / DuckDB // truncation on negative sums."""
    from shapefile_rs_spark.operators.similarity import _tdiv, kmeans_fp

    assert _tdiv(-7, 2) == -3 and _tdiv(7, 2) == 3 and _tdiv(-6, 2) == -3
    rows = [
        (i, [float(i % 3) - 1.0 + 0.01 * i, 0.5 - 0.02 * i]) for i in range(20)
    ]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # centroid 99 sits far outside the data: captures nothing, must carry
    cents = spark.createDataFrame(
        [(0, [-1.0, 0.5]), (1, [1.0, 0.3]), (99, [1000.0, 1000.0])],
        "centroid_id bigint, c_embedding array<double>",
    )
    a = sorted(
        tuple(r) for r in kmeans_fp(vecs.repartition(1), cents, iterations=2).collect()
    )
    b = sorted(
        tuple(r) for r in kmeans_fp(vecs.repartition(7), cents, iterations=2).collect()
    )
    assert a == b
    far = [t for t in a if t[0] == 99]
    assert all(n == 0 for (_, _, _, n) in far)
    assert [q for (_, _, q, _) in far] == [1000000000, 1000000000]  # floor(1000·10⁶)
    with pytest.raises(ValueError, match="iterations"):
        kmeans_fp(vecs, cents, iterations=0)


def test_bm25_tf_counting_and_validation(spark):
    """The doubled-space tf trick counts ADJACENT duplicates exactly (the
    case plain non-overlapping search undercounts: 'a a a' is 3, not 2),
    whitespace runs normalize, matching is whole-token and
    case-insensitive; term validation rejects non-token queries."""
    import pytest as _pytest

    from shapefile_rs_spark.operators.retrieval import bm25_topk

    rows = [
        (0, "a a a"),              # adjacent dups: tf(a)=3
        (1, "a\t a\n\nb aa ba"),   # runs + lookalikes: tf(a)=2, not aa/ba
        (2, "A b"),                # lowercased: tf(a)=1
        (3, "b b b b"),            # no a at all
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["rnk"] for r in bm25_topk(docs, ["a"], k=4).collect()}
    # identical dl=3 for docs 0-2 ⇒ ranks follow tf: 3 > 2 > 1; doc 3
    # scores exactly 0 (zero tf ⇒ zero contribution) and ranks last
    assert out == {0: 1, 1: 2, 2: 3, 3: 4}
    for bad in [[], ["a", "a"], ["Spark"], ["a b"], ["café"]]:
        with _pytest.raises(ValueError):
            bm25_topk(docs, bad)
    with _pytest.raises(ValueError, match="empty corpus"):
        bm25_topk(docs.filter(F.col("doc_id") < 0), ["a"])


def test_dsir_weights_semantics(spark):
    """Target-heavy docs weigh more than raw-typical docs; weights are
    identical at any partitioning (int64 sums commute); the 2^40 guard
    fires on degenerate bucket counts (a 1-token corpus concentrates the
    whole ratio mass in one bucket at high B)."""
    from shapefile_rs_spark.operators.curation import dsir_weights

    rows = (
        [(i, "en", "target jargon " * 10) for i in range(5)]
        + [(i + 5, "de", "common filler " * 10) for i in range(40)]
        + [(100, "de", "target jargon " * 10)]  # raw doc that LOOKS target
    )
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    w = {
        r["doc_id"]: r["w_micro"]
        for r in dsir_weights(docs, F.col("lang") == "en", n_buckets=64).collect()
    }
    assert w[100] == w[0]  # weight depends on CONTENT, not the label
    assert w[100] > w[5]  # target-like text outweighs raw-typical text
    w2 = {
        r["doc_id"]: r["w_micro"]
        for r in dsir_weights(
            docs.repartition(7), F.col("lang") == "en", n_buckets=64
        ).collect()
    }
    assert w == w2


def test_dsir_incremental_matches_from_scratch(spark):
    """The incr_dsir contract: batch weights against the corpus registry
    EQUAL full-corpus dsir restricted to batch docs; registry counts are
    ADDITIVE (per-bucket sum-merge of two halves == from-scratch)."""
    from shapefile_rs_spark.operators.curation import (
        dsir_registry,
        dsir_weights,
        dsir_weights_incremental,
    )

    rows = [
        (i, "en" if i % 3 == 0 else "de", f"tok{i % 7} tok{i % 5} common word")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    pred = F.col("lang") == "en"
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    reg = dsir_registry(corpus, pred, n_buckets=32)
    weights, delta = dsir_weights_incremental(batch, reg, pred, n_buckets=32)
    inc = {r["doc_id"]: r["w_micro"] for r in weights.collect()}
    full = {
        r["doc_id"]: r["w_micro"]
        for r in dsir_weights(docs, pred, n_buckets=32).collect()
        if r["doc_id"] % 4 == 0
    }
    assert inc == full
    # additivity: registry(corpus) ⊕ delta(batch) == registry(all)
    merged = {}
    for r in reg.collect():
        merged[r["f"]] = (r["t"], r["q"])
    for r in delta.collect():
        t0, q0 = merged.get(r["f"], (0, 0))
        merged[r["f"]] = (t0 + r["t"], q0 + r["q"])
    scratch = {
        r["f"]: (r["t"], r["q"])
        for r in dsir_registry(docs, pred, n_buckets=32).collect()
    }
    assert merged == scratch


def test_knn_join_massive_ties_and_string_ids(spark, monkeypatch):
    """Kernel edge cases on both paths: (a) hundreds of points at
    IDENTICAL positions force the cell kernel's argpartition boundary-tie
    fallback (the k+64 slack is exceeded, so correctness rests on the
    full-sort path and the (dist2, point_id) tie-break); (b) string ids
    exercise the object-dtype sort paths."""
    from shapefile_rs_spark.operators.knn import knn_bruteforce

    # 300 points stacked on 3 locations + a few scattered
    pts = spark.sql(
        "SELECT id AS point_id, "
        "CASE id % 3 WHEN 0 THEN 1.0 WHEN 1 THEN 1.5 ELSE 50.0 END AS lon, "
        "CASE id % 3 WHEN 0 THEN 1.0 WHEN 1 THEN 1.5 ELSE 40.0 END AS lat "
        "FROM range(300)"
    )
    qs = spark.sql(
        "SELECT id AS query_id, "
        "CASE id % 2 WHEN 0 THEN 1.0 ELSE 50.0 END AS q_lon, "
        "CASE id % 2 WHEN 0 THEN 1.0 ELSE 40.0 END AS q_lat "
        "FROM range(40)"
    )
    spts = pts.selectExpr("concat('p', point_id) AS point_id", "lon", "lat")
    sqs = qs.selectExpr("concat('q', query_id) AS query_id", "q_lon", "q_lat")
    want = {tuple(r) for r in knn_bruteforce(pts, qs, k=5).collect()}
    want_s = {tuple(r) for r in knn_bruteforce(spts, sqs, k=3).collect()}
    for path in _KNN_PATHS:
        got = _knn_join_rows(monkeypatch, path, pts, qs, k=5, res=6)
        assert got == want and len(got) == 200
        got_s = _knn_join_rows(monkeypatch, path, spts, sqs, k=3, res=5)
        assert got_s == want_s and len(got_s) == 120


def _knn_points_with_non_finite(spark):
    """Three finite points (ids 1-3), then null, NaN and ±inf coordinates."""
    inf, nan = float("inf"), float("nan")
    return spark.createDataFrame(
        [
            (1, 0.0, 0.0), (2, 1.0, 1.0), (3, 2.0, 2.0), (4, None, None), (5, 3.0, None),
            (6, nan, 0.0), (7, 0.5, nan), (8, inf, 1.0), (9, 1.0, -inf),
        ],
        "point_id long, lon double, lat double",
    )


# knn_join's pair-work crossover per path: every call at or below "brute"
# runs the broadcast kernel, every call above "cells" the cell passes
_KNN_PATHS = {"brute": 1 << 62, "cells": -1}


def _knn_join_rows(monkeypatch, path, *args, **kw):
    """knn_join's rows as a set, with the crossover set so the call takes
    ``path`` (a key of ``_KNN_PATHS``)."""
    from shapefile_rs_spark.operators import knn

    with monkeypatch.context() as m:
        m.setattr(knn, "BRUTE_PAIRS", _KNN_PATHS[path])
        return {tuple(r) for r in knn.knn_join(*args, **kw).collect()}


def _assert_excludes_null_coordinate_points(spark, monkeypatch, path):
    """knn_join on ``path`` drops every point with a null, NaN or ±inf
    coordinate and ranks the rest as brute force over the finite points
    does, when k fits the finite points (k=2) and when it does not
    (k=4 > 3 points)."""
    from shapefile_rs_spark.operators.knn import knn_bruteforce

    pts = _knn_points_with_non_finite(spark)
    qs = spark.createDataFrame([(10, 0.1, 0.1)], "query_id long, q_lon double, q_lat double")
    for k in (2, 4):
        want = {tuple(r) for r in knn_bruteforce(pts.where("point_id <= 3"), qs, k=k).collect()}
        got = _knn_join_rows(monkeypatch, path, pts, qs, k=k, res=4)
        assert got == want and len(got) == min(k, 3)


def test_knn_join_excludes_null_coordinate_points(spark, monkeypatch):
    """A point with a null, NaN or ±inf lon or lat is nobody's neighbour
    and does not count towards k: the query still gets every finite
    point, exactly as brute force over the finite points ranks them (the
    broadcast-kernel path)."""
    _assert_excludes_null_coordinate_points(spark, monkeypatch, "brute")


def test_knn_cells_excludes_null_coordinate_points(spark, monkeypatch):
    """The cell passes follow the same rule: a point with a null, NaN or
    ±inf lon or lat is nobody's neighbour and does not count towards k,
    on the ring search (k=2) and when k exceeds the finite points (k=4)."""
    _assert_excludes_null_coordinate_points(spark, monkeypatch, "cells")


def test_knn_join_null_query_coordinates_raise(spark, monkeypatch):
    """A query with a null, NaN or ±inf q_lon or q_lat is an error naming
    the count, not a silently missing row or a cast overflow — whichever
    path the call would take."""
    pts = _knn_points_with_non_finite(spark)
    inf, nan = float("inf"), float("nan")
    qs = spark.createDataFrame(
        [(10, 0.1, 0.1), (11, None, None), (12, 5.0, None), (13, nan, 0.0), (14, inf, 0.0),
         (15, 0.0, -inf)],
        "query_id long, q_lon double, q_lat double",
    )
    msg = "5 query rows have a null or non-finite q_lon or q_lat"
    for path in _KNN_PATHS:
        with pytest.raises(ValueError, match=msg):
            _knn_join_rows(monkeypatch, path, pts, qs, k=2, res=4)
    # both cell-indexed sides were released before the raise
    cached = [r.name() or "" for r in spark.sparkContext._jsc.getPersistentRDDs().values()]
    assert not [n for n in cached if "_pcell" in n or "_qcell" in n]


def test_knn_join_result_is_its_checkpoint(spark, monkeypatch):
    """On both paths knn_join returns its output-sized checkpoint: the
    result plan reads neither the inputs (no ``Range``, so no recompute
    once the caches are gone) nor a persisted cache."""
    from shapefile_rs_spark.operators import knn

    pts = spark.range(300).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 37) % 360 - 180.0).alias("lon"),
        ((F.col("id") * 53) % 180 - 90.0).alias("lat"),
    )
    qs = spark.range(20).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 71) % 360 - 179.5).alias("q_lon"),
        ((F.col("id") * 13) % 180 - 89.5).alias("q_lat"),
    )
    for path, pairs in _KNN_PATHS.items():
        with monkeypatch.context() as m:
            m.setattr(knn, "BRUTE_PAIRS", pairs)
            out = knn.knn_join(pts, qs, k=3, res=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Range" not in plan and "InMemoryTableScan" not in plan, (path, plan)
        assert out.count() == 60
