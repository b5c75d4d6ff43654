"""Language-model operators over the documents table — the two classic
vocabulary/likelihood stages of a web-scale training-data pipeline:

* :func:`lm_score` — CCNet-style n-gram LM quality scoring: train a
  bigram model ON the corpus (one aggregation pass), then score every
  document by its mean per-bigram model probability.  Low score = text
  the corpus-level model finds surprising (gibberish, boilerplate salad,
  wrong-language) — the perplexity-filter role of the KenLM stage in
  CCNet/RefinedWeb, re-expressed without libm.
* :func:`bpe_learn` — byte-pair-encoding merge learning (Sennrich-style):
  aggregate the corpus to a capped word-frequency table, then iteratively
  merge the highest-count adjacent symbol pair.  The word table — not the
  corpus — is what iterates, which is exactly why BPE training scales:
  the 100 TB corpus is touched ONCE (the word-count shuffle), and every
  merge round runs over the ≤``max_words`` vocabulary frame.

Engine-exactness contract (the repo's hash gate needs bit-identical
values in Spark and DuckDB):

* **No libm.**  A real perplexity is exp(-mean log p); ln/exp are not
  pinned across math libraries (CLAUDE.md float recipe).  The score here
  is the mean FIXED-POINT probability: each bigram contributes
  ``c(w1,w2) * 1_000_000 DIV c(w1)`` micro-units (int64, truncating
  division — Spark ``DIV`` == DuckDB ``//`` on non-negative counts), the
  per-document mean is an int64 sum followed by one more truncating
  division.  Monotone in the same direction as negative perplexity for
  filtering purposes; the deviation from log-scoring is documented here
  and in SURVEY §2.
* **Stupid-backoff shape** (Brants et al., "Large Language Models in
  Machine Translation", 2007 — the count-based backoff Google built for
  exactly this distributed setting): a bigram outside the capped model
  backs off to ``(c(w2) * 1_000_000 DIV total_tokens) DIV 10`` (α = 0.1
  as an integer division), and an unknown unigram floors at 1 micro-unit.
  All selection is deterministic: model caps take the top-V by
  (count DESC, token ASC).
* **Int64 everywhere.**  Sums commute; no float enters any aggregate.
  The ×1_000_000 quantization bounds the model at ~9.2e12 occurrences of
  a single token (int64 ceiling / scale) — asserted loudly at train time
  rather than silently wrapping.

Scale shape (100 TB):

* ``lm_score`` pass 1 aggregates bigram + unigram counts — the canonical
  word-count shuffle with map-side partial aggregation; the capped model
  (top-V rows) is then BROADCAST, so pass 2's scoring join never
  shuffles the corpus; the only corpus-keyed exchange is the final
  per-document aggregation (AQE-sized).
* ``bpe_learn`` round N's pair-count runs over the ≤``max_words``
  vocabulary frame (kilobytes at fixture scale, a few hundred MB at a
  real 1M-type vocabulary) — each round is a small self-contained job;
  the winning pair is a 1-row driver collect (a tiny control frame
  collected to the driver), and the merge application is one codegen
  ``replace`` over the vocab frame, localCheckpointed so round N+1 does
  not recompute rounds 1..N.

Reference parity note: the shapefile reference has no LM surface; these
operators extend the engine's training-data-pipeline family (SURVEY §2.3
"beyond-reference" block) alongside dedup/ANN/DSIR/BM25.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..local import local_frame
from .retrieval import _tokens_expr, _ws_pattern

_SCALE = 1_000_000
_INT64_MAX = (1 << 63) - 1

# tokens admitted into the BPE word table: the merge application embeds
# symbols into SQL string literals, so the charset is locked to
# [a-z0-9] — no quote, backslash, or regex metacharacter can enter a
# needle (the literal-injection guard; documented in bpe_learn).
_BPE_WORD_RE = "^[a-z0-9]+$"


# ---------------------------------------------------------------------------
# lm_score — bigram stupid-backoff quality scoring
# ---------------------------------------------------------------------------


def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — one row per adjacent token pair.  arrays_zip over
    two slices (head, tail) keeps the whole extraction in codegen
    built-ins; a transform(sequence(...)) lambda would drop the stage to
    the interpreted HOF path (CLAUDE.md)."""
    toks = docs.select(
        F.col(id_col), F.expr(_tokens_expr(text_col, "spark")).alias("t")
    ).where(F.size("t") >= 2)
    pairs = toks.select(
        id_col,
        F.slice("t", 1, F.size("t") - 1).alias("head"),
        F.expr("slice(t, 2, size(t) - 1)").alias("tail"),
    ).select(id_col, F.explode(F.arrays_zip("head", "tail")).alias("p"))
    return pairs.select(id_col, F.col("p.head").alias("w1"), F.col("p.tail").alias("w2"))


def lm_unigram_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Uncapped unigram counts (w, c_uni) — the canonical word-count
    shuffle; vocabulary-sized, the registry's unigram half."""
    return (
        docs.select(F.explode(F.expr(_tokens_expr(text_col, "spark"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )


def lm_bigram_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Uncapped bigram counts (w1, w2, c_big) — the registry's bigram
    half."""
    return (
        _bigrams(docs, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_big"))
    )


def _lm_score_from_counts(
    docs: DataFrame,
    uni_all: DataFrame,
    big_all: DataFrame,
    vocab_cap: int,
    id_col: str,
    text_col: str,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Score ``docs`` against models derived from the given UNCAPPED
    count frames.  ``uni_all`` must be materialized (checkpointed or a
    committed stage scan) — it is referenced three times (totals,
    unigram model, bigram left-context join); a lazy corpus-derived
    frame would re-scan the corpus per reference (the CLAUDE.md
    double-reference trap)."""
    tot_row = uni_all.agg(
        F.sum("c_uni").alias("total"), F.max("c_uni").alias("cmax")
    ).collect()[0]
    if tot_row["total"] is None:
        raise ValueError("lm_score over an empty corpus (no tokens)")
    total_tokens, cmax = int(tot_row["total"]), int(tot_row["cmax"])
    if cmax > _INT64_MAX // _SCALE:
        raise ValueError(
            f"token count {cmax} would overflow int64 under x{_SCALE} "
            "quantization — shrink the corpus shard or the scale"
        )
    uni_model = uni_all.orderBy(F.desc("c_uni"), F.asc("w")).limit(vocab_cap)

    # bigram counts + the EXACT (uncapped) left-context count, capped to
    # the model — TakeOrdered, no global sort.  Checkpointed so the
    # scoring job's plan holds a single data-sized scan (tests pin
    # this): broadcasting a lazy model subtree would re-run its count
    # aggregation inside the scoring job.
    big_model = (
        big_all.join(uni_all.withColumnRenamed("w", "w1"), "w1")
        .orderBy(F.desc("c_big"), F.asc("w1"), F.asc("w2"))
        .limit(vocab_cap)
        .select("w1", "w2", "c_big", F.col("c_uni").alias("c_w1"))
        .localCheckpoint(eager=True)
    )

    if pairs is None:
        pairs = _bigrams(docs, id_col, text_col)
    scored = (
        pairs.join(F.broadcast(big_model), ["w1", "w2"], "left")
        .join(
            F.broadcast(uni_model.withColumnRenamed("w", "w2")), ["w2"], "left"
        )
        # coalesce, not when(): when() over an exploded column breaks
        # whole-stage codegen (the 20x CLAUDE.md hazard)
        .select(
            id_col,
            F.coalesce(
                F.expr(f"(c_big * {_SCALE}) DIV c_w1"),
                F.expr(f"((c_uni * {_SCALE}) DIV {total_tokens}) DIV 10"),
                F.lit(1).cast("long"),
            ).alias("contrib"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("contrib").alias("contrib_sum"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.expr("contrib_sum DIV n_bigrams").alias("lm_micro"),
        )
    )


def lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_cap: int = 1024,
) -> DataFrame:
    """Per-document mean fixed-point bigram probability (micro-units).

    Returns (id_col, n_bigrams, lm_micro) for every document with ≥2
    tokens; ``lm_micro = Σ contrib DIV n_bigrams`` where contrib is the
    stupid-backoff micro-probability defined in the module docstring.
    Two corpus scans total (unigram count; one shared tokenize +
    slice/zip pair pass, checkpointed — it used to run twice, once for
    the bigram model and once for scoring, ~1.3s each at sf1.0).
    """
    uni_all = lm_unigram_counts(docs, text_col).localCheckpoint(eager=True)
    pairs_all = _bigrams(docs, id_col, text_col).localCheckpoint(eager=True)
    big_all = pairs_all.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_big"))
    return _lm_score_from_counts(
        docs,
        uni_all,
        big_all,
        vocab_cap,
        id_col,
        text_col,
        pairs=pairs_all,
    )


def lm_score_incremental(
    batch: DataFrame,
    uni_reg: DataFrame,
    big_reg: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_cap: int = 1024,
) -> tuple:
    """Recrawl-shaped :func:`lm_score`: score a NEW batch against the
    committed count registry without re-reading the corpus.

    The batch's unigram/bigram counts merge with the registry's
    (per-key SUM — counts are additive, so sum-merge == from-scratch,
    pinned in pytest), models derive from the COMBINED counts, and only
    batch docs are scored — the output is EXACTLY
    ``lm_score(corpus ∪ batch)`` restricted to the batch's docs (a
    doc's score depends only on global counts plus its own bigrams;
    corpus scores drift as statistics accrue and re-score at checkpoint
    cadence — the incr_* retraction-free zone).

    Returns ``(scores, uni_delta, big_delta)``: ``scores`` is the batch
    rows of the lm_score contract; the deltas are the batch's own count
    frames — merge into the registry by per-key SUM (disjoint-doc-id
    contract, shared with the whole incr_* family).

    Scale shape: the corpus TEXT is structurally unreachable — the plan
    touches only the registry (vocabulary-sized, the committed stage)
    and the batch; the merge aggregations are vocabulary-keyed, not
    corpus-keyed.  Registry/batch vocab frames merge with map-side
    combine; everything downstream is the lm_score scoring shape.
    """
    # uni_delta stays LAZY (r7): its eager checkpoint was one more
    # scheduling round-trip — the merged-registry aggregation below
    # materializes it inside ITS checkpoint job, and a caller reading
    # the returned delta re-runs one batch tokenize (the deltas are
    # registry-maintenance side outputs, not the scored path)
    uni_delta = lm_unigram_counts(batch, text_col)
    # one batch pair pass: the bigram delta AND the scoring join both
    # read this checkpoint (the batch used to tokenize three times —
    # delta, then again inside the scoring plan)
    pairs_b = _bigrams(batch, id_col, text_col).localCheckpoint(eager=True)
    big_delta = pairs_b.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_big")
    )
    uni_comb = (
        uni_reg.select("w", "c_uni")
        .unionByName(uni_delta)
        .groupBy("w")
        .agg(F.sum("c_uni").alias("c_uni"))
        .localCheckpoint(eager=True)
    )
    big_comb = (
        big_reg.select("w1", "w2", "c_big")
        .unionByName(big_delta)
        .groupBy("w1", "w2")
        .agg(F.sum("c_big").alias("c_big"))
    )
    scores = _lm_score_from_counts(
        batch, uni_comb, big_comb, vocab_cap, id_col, text_col, pairs=pairs_b
    )
    return scores, uni_delta, big_delta


def lm_score_target(
    docs: DataFrame,
    target_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_cap: int = 1024,
) -> DataFrame:
    """Target-conditioned :func:`lm_score` — the literal CCNet setup:
    the bigram model trains ONLY on the target subset
    (``docs.filter(target_pred)``, e.g. a trusted language/domain), and
    EVERY document scores against it.  High scorers look like the
    target; low scorers are the docs the filter drops.  Same
    engine-exact contract and scan shape as lm_score (two target-subset
    count scans + one full scoring scan — the target filter is pushed
    into the count scans)."""
    target = docs.filter(target_pred)
    uni_all = lm_unigram_counts(target, text_col).localCheckpoint(eager=True)
    return _lm_score_from_counts(
        docs,
        uni_all,
        lm_bigram_counts(target, id_col, text_col),
        vocab_cap,
        id_col,
        text_col,
    )


def lm_score_sql(
    docs_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_cap: int = 1024,
    train_where: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`lm_score` (default ``train_where``) and of
    :func:`lm_score_target` (``train_where`` = the target predicate over
    ``docs_table`` columns) — identical counts, caps, tie-breaks, and
    truncating integer arithmetic.  The predicate rides the single
    tokenize/bigram CTEs as a boolean column (_train), so the model
    filters cost no second pass; the scoring side reads all rows."""
    toks = _tokens_expr(text_col, "duckdb")
    return f"""
WITH tok AS (
  SELECT {id_col}, ({train_where}) AS _train, {toks} AS t FROM {docs_table}
),
uni_all AS (
  SELECT u.w, CAST(COUNT(*) AS BIGINT) AS c_uni
  FROM tok, UNNEST(t) AS u(w)
  WHERE _train
  GROUP BY u.w
),
totals AS (
  SELECT CAST(SUM(c_uni) AS BIGINT) AS total FROM uni_all
),
uni_model AS (
  SELECT w, c_uni FROM uni_all ORDER BY c_uni DESC, w ASC LIMIT {vocab_cap}
),
big AS (
  SELECT {id_col}, _train, t[i] AS w1, t[i+1] AS w2
  FROM tok, UNNEST(generate_series(1, len(t)-1)) AS g(i)
  WHERE len(t) >= 2
),
big_all AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_big
  FROM big WHERE _train GROUP BY w1, w2
),
big_model AS (
  SELECT b.w1, b.w2, b.c_big, u.c_uni AS c_w1
  FROM big_all b JOIN uni_all u ON u.w = b.w1
  ORDER BY b.c_big DESC, b.w1 ASC, b.w2 ASC LIMIT {vocab_cap}
),
contribs AS (
  SELECT big.{id_col},
         COALESCE(
           (bm.c_big * {_SCALE}) // bm.c_w1,
           ((um.c_uni * {_SCALE}) // (SELECT total FROM totals)) // 10,
           CAST(1 AS BIGINT)
         ) AS contrib
  FROM big
  LEFT JOIN big_model bm ON bm.w1 = big.w1 AND bm.w2 = big.w2
  LEFT JOIN uni_model um ON um.w = big.w2
)
SELECT {id_col},
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(contrib) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS lm_micro
FROM contribs
GROUP BY {id_col}
"""


# ---------------------------------------------------------------------------
# bpe_learn — byte-pair-encoding merge learning over the word table
# ---------------------------------------------------------------------------


def _doubled_sym_expr(word_col: str, engine: str) -> str:
    """The doubled-space symbol string of a word: 'ab' -> '  a  b  '.
    Every symbol is flanked by its own private space, so left-to-right
    non-overlapping replace() of ' L  R ' -> ' LR ' applies a BPE merge
    exactly (consecutive pairs merge like the sequential scan, and a
    freshly merged symbol cannot glue onto its neighbour) — the bm25
    doubled-space move reused for symbols."""
    if engine == "spark":
        return f"concat('  ', regexp_replace({word_col}, '(.)', '$1  '))"
    return f"'  ' || regexp_replace({word_col}, '(.)', '\\1  ', 'g')"


def bpe_learn(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_words: int = 512,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus.

    Returns (merge_rank, lhs, rhs, pair_count): merge_rank 1..n_merges in
    learning order, (lhs, rhs) the merged symbol pair, pair_count its
    weighted occurrence count at selection time.  Ties break on
    (count DESC, lhs ASC, rhs ASC) — fully deterministic.

    The corpus is scanned ONCE (word-count aggregation, capped at the
    top-``max_words`` by (count DESC, word ASC)); every merge round runs
    over the capped vocabulary frame.  Words are restricted to
    ``[a-z0-9]+`` so learned symbols can be embedded as SQL string
    literals with no escaping surface (the needle-injection guard).
    """
    spark = docs.sparkSession
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1: {n_merges}")
    words = (
        docs.select(F.explode(F.expr(_tokens_expr(text_col, "spark"))).alias("w"))
        .where(F.col("w").rlike(_BPE_WORD_RE))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(max_words)
        .select(F.expr(_doubled_sym_expr("w", "spark")).alias("s"), "cnt")
    )
    # ONE collect: the capped vocab is ≤ max_words rows BY CONSTRUCTION
    # (the sanctioned control-frame collect), so the merge rounds iterate
    # it driver-side in pure-int Python — identical (count DESC, lhs,
    # rhs) tie-break, identical left-to-right non-overlapping replace —
    # instead of 2 Spark jobs + an eager checkpoint per round (r6 shape:
    # 16 jobs over a ≤512-row frame, ~1.2s of pure scheduling).
    vocab = [(r["s"], int(r["cnt"])) for r in words.collect()]
    return local_frame(
        spark,
        _merge_rounds(vocab, n_merges),
        "merge_rank int, lhs string, rhs string, pair_count bigint",
    )


def _merge_rounds(vocab: list, n_merges: int) -> list:
    """The driver-side BPE merge loop over a collected (s, cnt) vocab:
    identical (count DESC, lhs ASC, rhs ASC) tie-break and left-to-right
    non-overlapping replace as the former per-round Spark jobs — pure-int
    Python, exact."""
    merges = []
    for rank in range(1, n_merges + 1):
        pair_counts: dict = {}
        for s, cnt in vocab:
            t = s.split()
            for lhs, rhs in zip(t, t[1:]):
                pair_counts[(lhs, rhs)] = pair_counts.get((lhs, rhs), 0) + cnt
        if not pair_counts:
            raise ValueError(
                f"corpus exhausted after {rank - 1} merges — no adjacent "
                f"pair left; lower n_merges (= {n_merges})"
            )
        (l, r), c = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, c))
        vocab = [(s.replace(f" {l}  {r} ", f" {l}{r} "), cnt) for s, cnt in vocab]
    return merges


def bpe_learn_encode(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
    max_words: int = 512,
) -> DataFrame:
    """Learn-then-encode with ONE corpus token pass.

    :func:`bpe_learn` followed by :func:`bpe_encode` tokenizes the corpus
    twice; at 100 TB the corpus scans dominate everything else, so this
    composition derives BOTH the learn-side word counts and the
    encode-side per-doc instance counts from a single checkpointed
    (doc, word, count) frame.  Merges and output are identical to the
    two-operator composition (pinned by pytest)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1: {n_merges}")
    dw = (
        docs.select(
            F.col(id_col),
            F.explode(F.expr(_tokens_expr(text_col, "spark"))).alias("w"),
        )
        .where(F.col("w").rlike(_BPE_WORD_RE))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=True)
    )
    words = (
        dw.groupBy("w")
        .agg(F.sum("_c").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(max_words)
        .select(F.expr(_doubled_sym_expr("w", "spark")).alias("s"), "cnt")
    )
    vocab = [(r["s"], int(r["cnt"])) for r in words.collect()]
    merges = [(l, r) for _, l, r, _ in _merge_rounds(vocab, n_merges)]

    expr = _doubled_sym_expr("w", "spark")
    for l, r in merges:
        expr = f"replace({expr}, ' {l}  {r} ', ' {l}{r} ')"
    n_sym = f"size(split(trim({expr}), '{_ws_pattern('spark')}'))"
    enc = dw.select("w").distinct().withColumn("_nsym", F.expr(n_sym))
    return (
        dw.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_words"),
            F.sum(F.col("_c") * F.col("_nsym")).alias("n_bpe_sym"),
        )
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply learned BPE merges and count the resulting symbols per doc.

    Returns (id_col, n_words, n_bpe_sym): n_words = the document's
    ``[a-z0-9]+`` tokens (the trainable charset — same filter as
    :func:`bpe_learn`), n_bpe_sym = total symbols after applying
    ``merges`` in learning order to each word's doubled-space char
    string.  The encode is ONE map-only pass: each merge is a literal
    codegen ``replace`` baked into the projection (no model join at
    all), followed by the per-doc aggregation — the cheapest possible
    100 TB shape for a tokenizer's counting pass.  Docs with zero
    trainable tokens drop out (no bigrams to score — mirrored by the
    oracle).
    """
    for l, r in merges:
        if not (_re.match(_BPE_WORD_RE, l) and _re.match(_BPE_WORD_RE, r)):
            raise ValueError(f"merge symbols must be [a-z0-9]+: {(l, r)}")
    expr = _doubled_sym_expr("w", "spark")
    for l, r in merges:
        expr = f"replace({expr}, ' {l}  {r} ', ' {l}{r} ')"
    n_sym = f"size(split(trim({expr}), '{_ws_pattern('spark')}'))"
    # Encode each DISTINCT word once and weight by the per-doc instance
    # count (Heaps' law: vocab ≪ instances — the nested replaces ran per
    # token INSTANCE before, 2.7M heavy string projections at sf1.0 for
    # 31 distinct words).  n_words = Σ counts and n_bpe_sym =
    # Σ count·n_sym(word) are identical to the per-instance aggregation.
    # The (doc, word) frame is checkpointed so deriving the distinct-word
    # side does NOT re-scan the corpus (the mix_weights double-reference
    # lesson); at 100 TB the corpus scan dominates, so one scan + a
    # vocab-sized encode is the right shape there too.
    dw = (
        docs.select(
            F.col(id_col),
            F.explode(F.expr(_tokens_expr(text_col, "spark"))).alias("w"),
        )
        .where(F.col("w").rlike(_BPE_WORD_RE))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=True)
    )
    enc = dw.select("w").distinct().withColumn("_nsym", F.expr(n_sym))
    return (
        dw.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_words"),
            F.sum(F.col("_c") * F.col("_nsym")).alias("n_bpe_sym"),
        )
    )


def bpe_encode_sql(
    docs_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
    max_words: int = 512,
) -> str:
    """DuckDB twin of learn-then-encode: re-derives the merges with the
    shared :func:`_bpe_chain_cte` chain, then applies them to every word
    as nested replaces whose needles are scalar subqueries on m1..mN."""
    chain = _bpe_chain_cte(docs_table, text_col, n_merges, max_words)
    toks = _tokens_expr(text_col, "duckdb")
    expr = _doubled_sym_expr("w", "duckdb")
    for i in range(1, n_merges + 1):
        needle = f"' ' || (SELECT l FROM m{i}) || '  ' || (SELECT r FROM m{i}) || ' '"
        repl = f"' ' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || ' '"
        expr = f"replace({expr}, {needle}, {repl})"
    n_sym = f"len(string_split_regex(trim({expr}), '{_ws_pattern('duckdb')}'))"
    return f"""{chain}
SELECT {id_col},
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM({n_sym}) AS BIGINT) AS n_bpe_sym
FROM (
  SELECT {id_col}, u.w
  FROM (SELECT {id_col}, {toks} AS t FROM {docs_table}), UNNEST(t) AS u(w)
  WHERE regexp_matches(u.w, '{_BPE_WORD_RE}')
)
GROUP BY {id_col}
"""


def _bpe_chain_cte(
    docs_table: str,
    text_col: str,
    n_merges: int,
    max_words: int,
) -> str:
    """The shared WITH-prefix unrolling the merge rounds (wc/w0 ->
    p1/m1/w1 -> ...) — one spelling for both :func:`bpe_learn_sql` and
    :func:`bpe_encode_sql` (the _minhash_pairs_cte pattern; string
    surgery on a sibling builder's output would break on any respelling).
    Every CTE is MATERIALIZED: inlining would re-expand each round's
    ~4 references to the previous round — a ~4^n blowup that exhausts
    file handles on the parquet scan (measured)."""
    toks = _tokens_expr(text_col, "duckdb")
    parts = [
        f"""WITH wc AS MATERIALIZED (
  SELECT u.w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT {toks} AS t FROM {docs_table}), UNNEST(t) AS u(w)
  WHERE regexp_matches(u.w, '{_BPE_WORD_RE}')
  GROUP BY u.w
  ORDER BY cnt DESC, u.w ASC LIMIT {max_words}
),
w0 AS MATERIALIZED (
  SELECT {_doubled_sym_expr('w', 'duckdb')} AS s, cnt FROM wc
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT t[j] AS l, t[j+1] AS r, CAST(SUM(cnt) AS BIGINT) AS c
  FROM (SELECT string_split_regex(trim(s), '{_ws_pattern('duckdb')}') AS t, cnt
        FROM w{i - 1}) x,
       UNNEST(generate_series(1, len(t)-1)) AS g(j)
  WHERE len(t) >= 2
  GROUP BY 1, 2
),
m{i} AS MATERIALIZED (SELECT l, r, c FROM p{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT replace(s,
                 ' ' || (SELECT l FROM m{i}) || '  ' || (SELECT r FROM m{i}) || ' ',
                 ' ' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || ' ') AS s,
         cnt
  FROM w{i - 1}
)"""
        )
    return ",\n".join(parts)


def bpe_learn_sql(
    docs_table: str = "documents",
    text_col: str = "text",
    n_merges: int = 8,
    max_words: int = 512,
) -> str:
    """DuckDB twin of :func:`bpe_learn`: the unrolled merge-round chain,
    each round selecting the max pair with the identical
    (count DESC, lhs, rhs) tie-break and applying the identical
    doubled-space replace."""
    selects = " UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS lhs, r AS rhs, c AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_chain_cte(docs_table, text_col, n_merges, max_words) + "\n" + selects
