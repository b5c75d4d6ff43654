"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, PII redaction, and deterministic stratified sampling.

These are the steps a 100 TB pretraining pipeline runs between raw ingest
and dedup (reference scope analog: the attribute/filter surface the
shapefile reader exposes per record, src/reader.rs:164-193 — here applied
to the documents table):

* :func:`decontaminate` — flag documents sharing any k-gram with a
  held-out benchmark set.  The benchmark n-gram set is small by definition
  (eval suites are ~1e5-1e6 n-grams), so the join is a **broadcast hash
  join against the exploded document n-grams** — the 100 TB side never
  shuffles; the only shuffle is the per-doc count, which partial-aggregates
  map-side on doc_id.
* :func:`redact_pii` — map-only regexp redaction (emails, phone numbers)
  with match counts.  Pure codegen'd JVM expressions: no Python on the
  scan, linear scale-out.
* :func:`stratified_sample` — deterministic per-stratum downsampling by an
  md5-prefix threshold.  Map-only filter (no sampling state, no shuffle),
  reproducible across runs/engines: the same (id, rate) always keeps the
  same rows — the property a resumable 100 TB pipeline needs, which
  ``df.sample()``'s partition-dependent RNG does not provide.

Every operator has a DuckDB-twin spelling (``*_sql``) so the driver's
oracle gate pins the exact arithmetic.
"""

from __future__ import annotations

import re

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..local import local_frame
from .dedup import word_shingles_sql
from .scan import SCAN_COL, route_mega_strata, segmented_scan

# Redaction patterns — shared Java-regex/RE2 subset (no backrefs, no
# lookaround) so the Spark and DuckDB spellings are the SAME string.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{4}"


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def _exploded_distinct_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, _g) rows: the DISTINCT k-word shingles of each document,
    generated Arrow-batch-at-a-time in numpy/Python instead of the
    interpreted ``transform()`` HOF + Generate (the measured 10×
    interpreted-HOF cost class from CLAUDE.md).  Semantics identical to
    ``explode(array_distinct(word_shingles(text, k)))``: a text shorter
    than k words yields its whole text as the single shingle."""
    import pandas as pd

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [df.schema[id_col], StructField("_g", StringType())]
    )

    def gen(batches):
        for pdf in batches:
            ids_out, grams = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:  # null text contributes no shingles
                    continue
                words = t.split(" ")
                n = max(1, len(words) - k + 1)
                seen = {" ".join(words[j : j + k]) for j in range(n)}
                ids_out.extend([i] * len(seen))
                grams.extend(seen)
            yield pd.DataFrame({id_col: ids_out, "_g": grams})

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_overlap, contaminated): per-document count of distinct
    k-gram shingles shared with the benchmark corpus.

    Plan shape for 100 TB: the benchmark's distinct n-gram set is tiny →
    ``broadcast()`` it; document n-grams explode map-side and probe the
    broadcast hash table; the per-doc count partial-aggregates before the
    one shuffle on ``id_col``.  Documents with zero overlap never survive
    the inner join, so the final left join restores them with count 0."""
    doc_grams = _exploded_distinct_shingles(docs, id_col, text_col, k)
    bench_grams = (
        _exploded_distinct_shingles(benchmark, id_col, text_col, k)
        .select("_g")
        .distinct()
    )
    counts = (
        doc_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return docs.select(id_col).join(counts, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias("n_overlap"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
    )


def decontaminate_sql(
    docs_sql: str,
    bench_sql: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`decontaminate` (same shingle arithmetic).
    Structured like the Spark plan — inner hit-count then LEFT JOIN back
    from the DOCS relation — so a null-text doc (no shingles) still emits
    its (id, 0, false) row exactly as the operator does."""
    sh = word_shingles_sql(text_col, k)
    return f"""
WITH bench AS (
  SELECT DISTINCT unnest(list_distinct({sh})) AS _g FROM ({bench_sql})
),
docg AS (
  SELECT {id_col}, unnest(list_distinct({sh})) AS _g FROM ({docs_sql})
),
hits AS (
  SELECT d.{id_col} AS {id_col}, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM docg d JOIN bench b USING (_g)
  GROUP BY d.{id_col}
)
SELECT d.{id_col} AS {id_col},
       COALESCE(h.n_overlap, 0) AS n_overlap,
       COALESCE(h.n_overlap, 0) > 0 AS contaminated
FROM ({docs_sql}) d LEFT JOIN hits h USING ({id_col})
"""


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination
# ---------------------------------------------------------------------------

# Kirsch–Mitzenmacher double hashing off one md5 per gram: position_i =
# (h1 + i·h2) mod m, h1/h2 the two 64-bit halves of the digest, h2 forced
# odd so the probe sequence never cycles early on power-of-two m.
_BLOOM_HASHES = 4


def _bloom_hash_cols(df: DataFrame, gram_col: str) -> DataFrame:
    """JVM-side double-hash columns for the Bloom family: two independent
    xxhash64 streams (``_h2`` forced odd so the Kirsch-Mitzenmacher
    positions ``h1 + i*h2`` walk the whole table).  Hashing in Catalyst
    keeps the Python side purely vectorized numpy — the r5 build paid
    per-row hashlib.md5 in the probe and was 5× the exact path it exists
    to beat."""
    clash = {"_h1", "_h2"} & set(df.columns)
    if clash:
        raise ValueError(
            f"gram frame already has {sorted(clash)}: the Bloom hash "
            "columns would silently overwrite them and be dropped on "
            "output — rename the caller's columns"
        )
    return df.withColumn("_h1", F.xxhash64(F.col(gram_col))).withColumn(
        "_h2", F.xxhash64(F.col(gram_col), F.lit(1)).bitwiseOR(F.lit(1))
    )


def _bloom_positions(h1, h2, i: int, m_bits: int):
    """Vectorized position stream i over uint64 double hashes."""
    import numpy as np

    return (h1 + np.uint64(i) * h2) % np.uint64(m_bits)


def _as_u64(col) -> "np.ndarray":
    import numpy as np

    return col.to_numpy(np.int64).view(np.uint64)


def bloom_build(
    grams: DataFrame, m_bits: int, n_hashes: int = _BLOOM_HASHES, gram_col: str = "_g"
) -> bytes:
    """Distributed Bloom-bitset build over a gram column: gram hashing
    runs JVM-side (xxhash64 double hashing), each partition folds its
    position stream into a local ``m_bits``-bit set with vectorized numpy
    (no per-row Python, no gram strings shipped to the workers), the
    driver ORs the per-partition rows — collect volume is
    ``partitions × m_bits/8`` bytes, never data-sized.  ``m_bits`` must be
    a positive multiple of 8 (byte-addressed bitset)."""
    import numpy as np
    import pandas as pd

    if m_bits <= 0 or m_bits % 8:
        raise ValueError(f"m_bits {m_bits}: need a positive multiple of 8")
    hashed = _bloom_hash_cols(
        grams.filter(F.col(gram_col).isNotNull()), gram_col
    ).select("_h1", "_h2")

    def fold(batches):
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        touched = False
        for pdf in batches:
            if not len(pdf):
                continue
            touched = True
            h1, h2 = _as_u64(pdf["_h1"]), _as_u64(pdf["_h2"])
            for i in range(n_hashes):
                p = _bloom_positions(h1, h2, i, m_bits)
                np.bitwise_or.at(
                    bits,
                    (p >> np.uint64(3)).astype(np.int64),
                    np.left_shift(
                        np.uint8(1), (p & np.uint64(7)).astype(np.uint8)
                    ),
                )
        if touched:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    rows = hashed.mapInPandas(fold, schema="bits binary").collect()
    acc = np.zeros(m_bits // 8, dtype=np.uint8)
    for r in rows:
        np.bitwise_or(acc, np.frombuffer(r["bits"], dtype=np.uint8), out=acc)
    return acc.tobytes()


def bloom_prefilter(
    grams: DataFrame,
    bits: bytes,
    m_bits: int,
    n_hashes: int = _BLOOM_HASHES,
    gram_col: str = "_g",
) -> DataFrame:
    """Rows whose gram tests positive in the Bloom bitset (NULL grams drop:
    a null never matches the exact confirm join either).  The bitset ships
    once per executor as a broadcast variable; gram hashing runs JVM-side
    and the probe is a fully vectorized numpy gather per position stream —
    ``n_hashes`` indexed reads over the Arrow batch, no per-row Python."""
    import numpy as np

    if len(bits) * 8 != m_bits:
        raise ValueError(f"bitset is {len(bits) * 8} bits, expected {m_bits}")
    bc = grams.sparkSession.sparkContext.broadcast(bits)
    hashed = _bloom_hash_cols(grams.filter(F.col(gram_col).isNotNull()), gram_col)

    def probe(batches):
        arr = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            h1, h2 = _as_u64(pdf["_h1"]), _as_u64(pdf["_h2"])
            keep = np.ones(len(pdf), dtype=bool)
            for i in range(n_hashes):
                p = _bloom_positions(h1, h2, i, m_bits)
                byte = arr[(p >> np.uint64(3)).astype(np.int64)]
                keep &= (
                    np.right_shift(byte, (p & np.uint64(7)).astype(np.uint8)) & 1
                ).astype(bool)
            yield pdf[keep]

    return hashed.mapInPandas(probe, schema=hashed.schema).drop("_h1", "_h2")


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    n_hashes: int = _BLOOM_HASHES,
) -> DataFrame:
    """:func:`decontaminate` behind a Bloom prefilter — row-identical
    output (the driver gate runs both against the SAME oracle), different
    100 TB plan: ``decontaminate`` broadcasts the benchmark n-gram set as
    a join hash table, which dies when the eval suite union reaches ~1e9
    n-grams (a ~12 GB hash relation per executor).  Here the benchmark
    compresses to an ``m_bits`` Bloom bitset (~10 bits/key — 1.2 GB where
    the hash table needs 12) built distributed and OR-merged on the
    driver; the corpus's exploded gram stream probes the broadcast bitset
    Arrow-batch-at-a-time and only the surviving ~FP+hit fraction enters
    the exact confirm join, which therefore no longer needs a
    broadcast-sized right side.  False positives cannot leak: the confirm
    join is exact, so a colliding gram costs shuffle bytes, never a wrong
    row (pinned by pytest at a deliberately saturated 64-bit bloom).
    False negatives cannot exist: every benchmark gram was folded into
    the bitset it probes.

    The benchmark gram set is scanned by both the build and the confirm
    join — a lazy ``localCheckpoint`` that the build's collect
    materializes (the CLAUDE.md double-consumption rule).  Its blocks are
    freed when the result frame becomes unreachable, so no caller
    releases anything; a lost block fails the confirm join instead of
    recomputing the grams."""
    if m_bits <= 0 or m_bits % 8:
        # validate BEFORE the checkpoint below: bloom_build would catch
        # this too, but only after the gram shuffle has run
        raise ValueError(f"m_bits {m_bits}: need a positive multiple of 8")
    bench_grams = (
        _exploded_distinct_shingles(benchmark, id_col, text_col, k)
        .select("_g")
        .distinct()
        .localCheckpoint(eager=False)
    )
    bits = bloom_build(bench_grams, m_bits, n_hashes)
    doc_grams = _exploded_distinct_shingles(docs, id_col, text_col, k)
    survivors = bloom_prefilter(doc_grams, bits, m_bits, n_hashes)
    counts = (
        survivors.join(bench_grams, "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return docs.select(id_col).join(counts, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias("n_overlap"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``n_emails``/``n_phones`` match counts and a
    ``<text_col>_redacted`` column with both patterns replaced by typed
    placeholders.  Map-only codegen'd expressions (regexp_extract_all +
    regexp_replace) — nothing leaves the JVM."""
    t = F.col(text_col)
    red = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return (
        df.withColumn(
            "n_emails", F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
        )
        .withColumn(
            "n_phones", F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
        )
        .withColumn(f"{text_col}_redacted", red)
    )


def redact_pii_sql(text_sql: str) -> tuple:
    """(n_emails_sql, n_phones_sql, redacted_sql) DuckDB twins."""
    n_e = f"len(regexp_extract_all({text_sql}, '{EMAIL_RE}'))"
    n_p = f"len(regexp_extract_all({text_sql}, '{PHONE_RE}'))"
    red = (
        f"regexp_replace(regexp_replace({text_sql}, '{EMAIL_RE}', '<EMAIL>', 'g'),"
        f" '{PHONE_RE}', '<PHONE>', 'g')"
    )
    return n_e, n_p, red


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------


def _rate_threshold(rate: float) -> str:
    """4-hex-char md5-prefix threshold: P(prefix < thr) = rate ± 2^-16."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate {rate} outside [0, 1]")
    if rate >= 1.0:
        return "ffff~"  # '~' sorts above 'f': keeps every row
    return format(int(rate * 65536), "04x")


def stratified_sample(
    df: DataFrame,
    rates: Dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row iff the first 4 hex chars of md5(id) sort below the
    stratum's threshold — a deterministic, engine-portable Bernoulli
    sample at the stratum's rate (granularity 2^-16).

    Map-only: the when-chain over ``strata_col`` (a plain column, not an
    exploded one — the codegen hazard documented in CLAUDE.md does not
    apply) and the md5 both codegen; no shuffle, no RNG state, identical
    keep-set at any partitioning or cluster size."""
    prefix = F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 4)
    thr = F.lit(_rate_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == stratum, F.lit(_rate_threshold(rate))).otherwise(thr)
    return df.filter(prefix < thr)


def stratified_sample_sql(
    rates: Dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> str:
    """DuckDB twin WHERE-clause of :func:`stratified_sample`."""
    cases = " ".join(
        f"WHEN '{s}' THEN '{_rate_threshold(r)}'" for s, r in sorted(rates.items())
    )
    return (
        f"substring(md5(CAST({id_col} AS VARCHAR)), 1, 4) < "
        f"(CASE {strata_col} {cases} ELSE '{_rate_threshold(default_rate)}' END)"
    )


# ---------------------------------------------------------------------------
# BPE-ish tokenization
# ---------------------------------------------------------------------------

# GPT-2-style pretokenizer, ASCII-lowercase corpus subset: a token is an
# optionally space-prefixed letter run, digit run, or punctuation run.
BPE_TOKEN_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pretokenizer (codegen'd regex scan)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def bpe_token_count_sql(text_sql: str) -> str:
    return f"len(regexp_extract_all({text_sql}, '{BPE_TOKEN_RE}'))"


# ---------------------------------------------------------------------------
# per-host document quota
# ---------------------------------------------------------------------------


def host_cap(
    df: DataFrame,
    cap: int,
    host_col: str = "host",
    id_col: str = "doc_id",
    order_col: str = "quality",
    mega_host_threshold: int | None = None,
    max_salts: int = 256,
) -> DataFrame:
    """Keep at most ``cap`` documents per host — the C4/RefinedWeb-style
    per-domain quota that stops template-heavy or SEO-spam hosts from
    dominating a crawl-derived corpus.  Within a host, documents rank by
    (``order_col`` desc, ``id_col`` asc): best-quality first, id as the
    deterministic tie-break, so the keep-set is identical at any
    partitioning or cluster size.

    Output: the input rows that survive, plus ``host_rank`` (1-based rank
    within the host) so callers can tighten the quota downstream without
    re-ranking.  ``cap`` must be ≥ 1: row_number() never emits a value a
    zero/negative cap keeps, so such a call could only be a bug (a silent
    empty corpus) — rejected loudly instead.

    Scale shape: with ``mega_host_threshold=None``, ONE shuffle on the
    host key (the window's partitionBy); rank + filter are in-partition.
    Host keys are high-cardinality (millions of registrable domains in a
    crawl) so the exchange is uniform by construction — but a mega-host
    (site-hosting domains: the boilerplate analog of a hot LSH bucket, and
    the exact skew this operator exists to police) serializes its whole
    document set through ONE window task.  Set ``mega_host_threshold`` to
    the per-partition row budget and the operator pre-aggregates per-host
    counts (map-side combine; the post-agg frame is one row per host and
    only hosts ABOVE the threshold are collected — a tiny set by
    construction); if any exist it switches to the SALTED two-phase top-k
    (the pip_join_salted / W1 skew treatment):

    1. broadcast-join the hot-host set and salt ONLY those hosts' rows
       into ``ceil(count/threshold)`` (≤ ``max_salts``) buckets by id
       hash — cold hosts keep salt 0, so their plan is unperturbed;
    2. rank within (host, salt) and keep rank ≤ cap — every partition of
       this window is bounded by the threshold, and a host's global
       top-cap is necessarily contained in the union of its per-salt
       top-caps;
    3. re-rank the surviving ≤ cap·salts candidates per host in a second
       window — its partitions are bounded by cap·max_salts rows, and the
       candidate ranks equal the unsalted global ranks row-for-row.

    Both paths emit identical rows (driver oracle + pytest pin at a forced
    threshold); the threshold only picks the plan."""
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError(f"cap {cap} < 1 would keep nothing; that's a bug, not a quota")
    if mega_host_threshold is not None:
        if mega_host_threshold < 1:
            raise ValueError(f"mega_host_threshold {mega_host_threshold} < 1")
        hot = (
            df.groupBy(F.col(host_col).alias("_hh"))
            .agg(F.count(F.lit(1)).alias("_hn"))
            .filter(F.col("_hn") > mega_host_threshold)
            .collect()
        )
        if hot:
            return _host_cap_salted(
                df, cap, host_col, id_col, order_col,
                {r["_hh"]: r["_hn"] for r in hot},
                mega_host_threshold, max_salts,
            )
    # explicit null placement: Spark's bare desc() is NULLS LAST, and so
    # is DuckDB 1.0's bare DESC — but DuckDB's default is the SESSION
    # SETTING `default_null_order` (PostgreSQL-style installs flip it to
    # NULLS FIRST for DESC), so an oracle run on a reconfigured
    # connection would silently rank unscored docs first.  Spell the
    # contract on both sides: unscored docs never consume quota ahead of
    # scored ones.
    w = Window.partitionBy(host_col).orderBy(
        F.col(order_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        df.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= cap)
    )


def _host_cap_salted(
    df: DataFrame,
    cap: int,
    host_col: str,
    id_col: str,
    order_col: str,
    hot_counts: Dict,
    threshold: int,
    max_salts: int,
) -> DataFrame:
    """Two-phase top-k for mega-host skew — see :func:`host_cap` for the
    three-step shape.  ``hot_counts`` maps each host above the threshold to
    its row count (tiny by construction: hot hosts are the exception the
    operator polices).

    Exactness: phase 1 keeps each (host, salt)'s local top-``cap`` under
    the SAME order as the unsalted window ((order desc NULLS LAST, id
    asc)), and any row in a host's global top-cap is by definition in the
    top-cap of whichever salt bucket holds it — so the phase-2 candidate
    set contains the global top-cap, and ranking candidates in that order
    reproduces the global ranks 1..cap exactly.  Salt values only route
    rows; they never affect which rows survive or their ranks."""
    import math

    from pyspark.sql import Window

    nsalts = local_frame(
        df.sparkSession,
        [(h, min(math.ceil(n / threshold), max_salts)) for h, n in hot_counts.items()],
        f"_hh {df.schema[host_col].dataType.simpleString()}, _nsalt int",
    )
    # cold hosts (no match) keep salt 0; hot hosts spread over _nsalt
    # buckets by id hash — routing only, order-irrelevant
    salted = (
        df.join(
            F.broadcast(nsalts), F.col(host_col).eqNullSafe(F.col("_hh")), "left"
        )
        .withColumn(
            "_salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64(F.col(id_col)), F.col("_nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_hh", "_nsalt")
    )
    order = [F.col(order_col).desc_nulls_last(), F.col(id_col).asc()]
    w1 = Window.partitionBy(host_col, "_salt").orderBy(*order)
    candidates = (
        salted.withColumn("_lrank", F.row_number().over(w1))
        .filter(F.col("_lrank") <= cap)
        .drop("_salt", "_lrank")
    )
    w2 = Window.partitionBy(host_col).orderBy(*order)
    return (
        candidates.withColumn("host_rank", F.row_number().over(w2))
        .filter(F.col("host_rank") <= cap)
        .select(*df.columns, "host_rank")
    )


def host_cap_sql(
    docs_sql: str,
    cap: int,
    host_col: str = "host",
    id_col: str = "doc_id",
    order_col: str = "quality",
) -> str:
    """DuckDB twin of :func:`host_cap` (identical rank + quota)."""
    return f"""
SELECT *
FROM (
  SELECT d.*,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY {host_col}
           ORDER BY {order_col} DESC NULLS LAST, {id_col} ASC
         ) AS INTEGER) AS host_rank
  FROM ({docs_sql}) d
)
WHERE host_rank <= {cap}
"""


# ---------------------------------------------------------------------------
# top-fraction quality pruning
# ---------------------------------------------------------------------------


def quality_prune(
    df: DataFrame,
    frac: float,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    order_col: str = "quality",
    mega_strata_threshold: int | str | None = None,
) -> DataFrame:
    """Keep the best ``frac`` fraction of documents per stratum by score —
    the FineWeb-style move of thresholding a quality signal at a corpus
    percentile rather than a magic constant, so the keep rate survives
    score-distribution drift between crawls.

    Exact and engine-portable by construction: rank = row_number over
    (stratum, score desc, id asc), threshold = ceil(frac · stratum_count)
    — pure integer arithmetic, no approximate percentiles (Spark's
    approx_percentile and DuckDB's quantile interpolate differently and
    would break the oracle gate).  Output adds ``q_rank`` (1-based rank in
    stratum) and ``n_stratum`` so callers can re-threshold downstream
    without re-ranking.

    Scale shape: the default (``mega_strata_threshold=None``) is ONE
    shuffle on the stratum key serving both windows, correct while every
    stratum fits a partition; when a stratum exceeds
    ``mega_strata_threshold`` rows, the rank comes from
    :func:`.scan.segmented_scan` instead (no single-task stratum) and
    ``n_stratum`` is broadcast-joined from the routing counts.

    Both paths produce identical output (pinned by pytest at a forced
    threshold and by the driver oracle row); the threshold only picks the
    plan.  One precondition is STRICTER on the two-phase path: ``id_col``
    must be unique and non-null there (its rank join-back requires it —
    enforced loudly with a ValueError), while the window spelling merely
    ranks such rows adjacently.  Pipelines carrying null/duplicate ids
    should clean them before enabling ``mega_strata_threshold``.

    ``mega_strata_threshold="auto"`` derives the per-partition row budget
    from the data itself: total rows ÷ ``spark.sql.shuffle.partitions``
    (a stratum above the average partition's fair share would serialize
    through one window task).  At 100 TB any real language stratum dwarfs
    that budget, so "auto" is the scale-safe default for pipelines; at
    toy scale it still flips to two-phase whenever one stratum dominates,
    which is what makes the plan testable locally."""
    from pyspark.sql import Window

    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac {frac} outside [0, 1]")
    counts, two_phase = route_mega_strata(df, strata_col, mega_strata_threshold)
    if two_phase:
        return _quality_prune_two_phase(df, frac, strata_col, id_col, order_col, counts)
    if counts:
        # the routing scan already computed the per-stratum counts —
        # reuse them as a broadcast join instead of discarding the pass
        # and recomputing the identical counts as a window
        w = Window.partitionBy(strata_col).orderBy(
            F.col(order_col).desc_nulls_last(), F.col(id_col).asc()
        )
        return _attach_counts_and_filter(
            df.withColumn("q_rank", F.row_number().over(w)),
            df, frac, strata_col, counts,
        )
    # explicit NULLS LAST for the same config-drift reason host_cap
    # documents (DuckDB's default_null_order is a session setting):
    # unscored docs must not outrank scored ones
    w = Window.partitionBy(strata_col).orderBy(
        F.col(order_col).desc_nulls_last(), F.col(id_col).asc()
    )
    wc = Window.partitionBy(strata_col)
    return (
        df.withColumn("q_rank", F.row_number().over(w))
        .withColumn("n_stratum", F.count(F.lit(1)).over(wc))
        .filter(F.col("q_rank") <= F.ceil(F.col("n_stratum") * F.lit(frac)))
    )


def _attach_counts_and_filter(
    ranked: DataFrame, df: DataFrame, frac: float, strata_col: str, counts: Dict
) -> DataFrame:
    """Broadcast the tiny collected per-stratum counts back as
    ``n_stratum`` (eqNullSafe: a NULL stratum is a real group for the
    window spelling, so the join must not drop it) and apply the exact
    ceil threshold — shared by the reuse-counts window route and the
    two-phase route."""
    counts_df = local_frame(
        df.sparkSession,
        list(counts.items()),
        f"_cs {df.schema[strata_col].dataType.simpleString()}, n_stratum bigint",
    )
    return (
        ranked.join(
            F.broadcast(counts_df),
            F.col(strata_col).eqNullSafe(F.col("_cs")),
            "inner",
        )
        .select(*df.columns, "q_rank", "n_stratum")
        .filter(F.col("q_rank") <= F.ceil(F.col("n_stratum") * F.lit(frac)))
    )


def _quality_prune_two_phase(
    df: DataFrame,
    frac: float,
    strata_col: str,
    id_col: str,
    order_col: str,
    counts: Dict,
) -> DataFrame:
    """Exact per-stratum ranks from :func:`.scan.segmented_scan` (q_rank =
    running row count + 1), thresholded against ``counts``, the
    already-collected per-stratum row counts.  Ranks are IntegerType on
    BOTH paths (Spark's row_number is int-typed), so a stratum beyond
    2³¹−1 rows is rejected loudly rather than wrapped.  The scan's id
    contract (unique, non-null) carries over to the result."""
    if max(counts.values()) > 2**31 - 1:
        raise ValueError(
            "a stratum exceeds 2^31-1 rows: q_rank is IntegerType on both "
            "the window and two-phase paths (Spark row_number is int) — "
            "split the stratum or widen the rank contract first"
        )
    scanned = segmented_scan(df, strata_col, [F.col(order_col).desc_nulls_last()], id_col)
    ranked = scanned.withColumn("q_rank", (F.col(SCAN_COL) + 1).cast("int"))
    return _attach_counts_and_filter(ranked, df, frac, strata_col, counts)


def quality_prune_sql(
    docs_sql: str,
    frac: float,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    order_col: str = "quality",
) -> str:
    """DuckDB twin of :func:`quality_prune` (identical integer threshold)."""
    return f"""
SELECT *
FROM (
  SELECT d.*,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY {strata_col}
           ORDER BY {order_col} DESC NULLS LAST, {id_col} ASC
         ) AS INTEGER) AS q_rank,
         COUNT(*) OVER (PARTITION BY {strata_col}) AS n_stratum
  FROM ({docs_sql}) d
)
WHERE q_rank <= CAST(ceil(n_stratum * CAST({frac} AS DOUBLE)) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# token-budget sampling
# ---------------------------------------------------------------------------


def budget_sample(
    df: DataFrame,
    budget: int | Dict[str, int],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    mega_strata_threshold: int | str | None = None,
    default_budget: int = 0,
) -> DataFrame:
    """Keep, per stratum, the deterministic-hash-ordered prefix of
    documents whose cumulative token count stays under ``budget`` — the
    data-mixture move ("300 B tokens of en, 50 B of fr, ...") that turns a
    per-language token budget into a concrete keep-set.  Documents order
    by (md5(id) asc, id asc) — the same engine-portable hash
    :func:`stratified_sample` thresholds — so the keep-set is a uniform
    random-looking sample, identical at any partitioning or cluster size,
    and GROWS MONOTONICALLY with the budget: raising the budget only adds
    documents, never swaps them, which is what makes mixture re-weights
    cheap to re-cut.  A document is kept iff the tokens BEFORE it in that
    order total under the budget (``cum_before < budget``): the document
    crossing the boundary is the last kept, so every non-empty stratum
    with a positive budget keeps at least one document.  Output adds
    ``cum_before`` (bigint) so callers can re-cut tighter budgets without
    re-summing.  NULL token counts contribute 0 on both paths (window SUM
    skips nulls).

    Scale shape: the prefix sum is :func:`token_prefix`'s — a stratum-key
    running-sum window by default, or :func:`.scan.segmented_scan` when a
    stratum exceeds ``mega_strata_threshold`` (row budget, or "auto" =
    total rows ÷ shuffle partitions); both paths are row-identical.

    ``budget`` may be a dict of PER-STRATUM budgets (the data-mixture cut
    proper — e.g. :func:`mix_weights` allocations): the threshold becomes
    a map-only when-chain over the stratum column, with ``default_budget``
    (default 0, i.e. DROP — stated loudly here because it mirrors
    stratified_sample's default-rate data-loss trap) for strata the dict
    does not name.  The prefix-sum plan is identical either way."""
    if isinstance(budget, dict):
        if None in budget:
            raise ValueError(
                "budget dict has a None stratum key: the when-chain "
                "compares with ==, which is never true for NULL — NULL "
                "strata always take default_budget; drop the None entry"
            )
        bad = {s: b for s, b in budget.items() if b < 0}
        if bad or default_budget < 0:
            raise ValueError(
                f"negative budget(s) {bad or {'default': default_budget}}: "
                "the keep-set is empty by construction — reject loudly instead"
            )
        thr = F.lit(int(default_budget)).cast("long")
        for s, b in sorted(budget.items()):
            thr = F.when(F.col(strata_col) == s, F.lit(int(b)).cast("long")).otherwise(thr)
    else:
        if budget < 0:
            raise ValueError(f"budget {budget} is negative: the keep-set is empty "
                             "by construction — reject loudly instead")
        thr = F.lit(int(budget)).cast("long")
    pref = token_prefix(
        df, strata_col=strata_col, id_col=id_col, tokens_col=tokens_col,
        mega_strata_threshold=mega_strata_threshold,
    )
    return pref.filter(F.col("cum_before") < thr)


def token_prefix(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    mega_strata_threshold: int | str | None = None,
) -> DataFrame:
    """``df`` + ``cum_before`` (bigint): the EXCLUSIVE per-stratum token
    prefix sum in deterministic (md5(id) asc, id asc) order — the shared
    distributed-scan core of :func:`budget_sample` (which filters it
    against a budget) and :func:`seq_pack` (which divides it into
    fixed-capacity training sequences).  Scale shape: one stratum-key
    shuffle + running-sum window by default, or
    :func:`.scan.segmented_scan` weighted by ``tokens_col`` when any
    stratum exceeds ``mega_strata_threshold`` rows (its id contract then
    applies, and the scan runs inside the call: the result reads its
    checkpoint, which nobody releases).

    Negative token counts reject LOUDLY at evaluation time (a codegen
    raise_error guard rides the token projection on both paths): a
    negative count is an upstream bug, and silently folding it into the
    running sum would corrupt every later document's offset in the
    stratum — budget keep-sets and seq_pack bins downstream of a
    corrupted offset violate their pinned invariants."""
    from pyspark.sql import Window

    tok_type = df.schema[tokens_col].dataType
    df = df.withColumn(
        tokens_col,
        F.when(
            F.col(tokens_col) < 0,
            F.raise_error(
                F.concat(
                    F.lit(f"negative {tokens_col}: "),
                    F.col(tokens_col).cast("string"),
                )
            ).cast(tok_type),
        ).otherwise(F.col(tokens_col)),
    )
    key = F.md5(F.col(id_col).cast("string").cast("binary"))
    if route_mega_strata(df, strata_col, mega_strata_threshold)[1]:
        scanned = segmented_scan(df, strata_col, [key.asc()], id_col, tokens_col)
        return scanned.withColumnRenamed(SCAN_COL, "cum_before")
    w = (
        Window.partitionBy(strata_col)
        .orderBy(key.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(
        F.sum(F.col(tokens_col).cast("long")).over(w), F.lit(0).cast("long")
    )
    return df.withColumn("cum_before", cum)


def budget_sample_sql(
    docs_sql: str,
    budget: int | Dict[str, int],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    default_budget: int = 0,
) -> str:
    """DuckDB twin of :func:`budget_sample` (identical hash order and
    exclusive-window arithmetic; SUM over BIGINT is HUGEINT in DuckDB —
    cast back; a dict budget becomes the same when-chain as the Spark
    side's)."""
    if isinstance(budget, dict):
        if None in budget:
            raise ValueError(
                "budget dict has a None stratum key — see budget_sample: "
                "NULL strata always take default_budget"
            )
        cases = " ".join(
            f"WHEN {strata_col} = '{s}' THEN CAST({int(b)} AS BIGINT)"
            for s, b in sorted(budget.items())
        )
        thr = f"CASE {cases} ELSE CAST({int(default_budget)} AS BIGINT) END"
    else:
        thr = f"CAST({int(budget)} AS BIGINT)"
    return f"""
SELECT *
FROM (
  SELECT d.*,
         CAST(COALESCE(SUM({tokens_col}) OVER (
           PARTITION BY {strata_col}
           ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC, {id_col} ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cum_before
  FROM ({docs_sql}) d
)
WHERE cum_before < {thr}
"""


def mix_weights(
    df: DataFrame,
    targets: Dict[str, int],
    budget: int,
    strata_col: str = "lang",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Per-stratum token allocations for a target data mixture: given
    integer per-mille shares (``targets``, e.g. ``{"en": 500, "fr":
    150}``) of a total token ``budget``, report what each stratum HAS
    (``available_tokens``), what the mixture ASKS of it
    (``target_tokens = budget * share // 1000``), what it can actually
    CONTRIBUTE (``alloc_tokens = min(available, target)``) and the
    shortfall (``deficit``) — the static-mixture planning step (the
    DoReMi/data-mixture reweighting literature's input table) whose
    ``alloc_tokens`` column feeds :func:`budget_sample`'s dict budget to
    cut the actual keep-set.  Everything is int64 (shares are per-mille
    integers, targets precompute driver-side), so the output is
    engine-portable and hash-exact; no redistribution of unmet deficit —
    re-running with reweighted shares is the caller's loop.  Strata
    absent from ``targets`` get target 0 (reported, so silent drops are
    visible as deficit-0 zero-target rows), and target strata absent
    from the CORPUS appear with available_tokens 0 and full deficit —
    an unsatisfiable mixture must surface its worst shortfall, not
    vanish from the planning table.

    Scale shape: ONE map-side-combining groupBy on the stratum key over
    a two-column projection — the corpus is scanned exactly once; the
    missing-stratum rows union in as a targets-sized driver-built frame
    (:func:`..local.local_frame`) re-aggregated at strata scale (an
    anti-join spelling would plan the data-sized aggregation subtree
    twice) — the mixture table is strata-sized, never data-sized."""
    if budget < 0:
        raise ValueError(f"budget {budget} is negative")
    if None in targets:
        raise ValueError(
            "targets has a None stratum key: the when-chain compares with "
            "==, which is never true for NULL — NULL strata always get "
            "target 0; drop the None entry"
        )
    bad = {s: p for s, p in targets.items() if p < 0}
    if bad:
        raise ValueError(f"negative mixture shares {bad}")
    if sum(targets.values()) > 1000:
        raise ValueError(
            f"mixture shares sum to {sum(targets.values())} > 1000 per-mille: "
            "the allocation would exceed the budget"
        )
    tgt = F.lit(0).cast("long")
    for s, pm in sorted(targets.items()):
        tgt = F.when(
            F.col(strata_col) == s, F.lit(int(budget) * int(pm) // 1000).cast("long")
        ).otherwise(tgt)
    avail = df.groupBy(strata_col).agg(
        F.sum(F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))).alias(
            "available_tokens"
        )
    )
    if targets:
        # Surface target-only strata as zero-availability rows WITHOUT
        # re-reading the corpus: an anti-join of the targets literal
        # against `avail` would duplicate the whole data-sized aggregation
        # subtree (Spark plans each DataFrame reference independently — the
        # 100 TB scan would run twice).  Instead union zero rows for every
        # target stratum and re-aggregate: the second groupBy runs over a
        # strata-sized frame (distinct strata + |targets| rows), and
        # sum(avail + 0) == avail, so the output is identical.
        zeros = local_frame(
            df.sparkSession,
            [(str(s), 0) for s in targets],
            f"{strata_col} string, available_tokens bigint",
        )
        avail = (
            avail.unionByName(zeros)
            .groupBy(strata_col)
            .agg(F.sum("available_tokens").alias("available_tokens"))
        )
    return avail.select(
        strata_col,
        "available_tokens",
        tgt.alias("target_tokens"),
        F.least(F.col("available_tokens"), tgt).alias("alloc_tokens"),
        (tgt - F.least(F.col("available_tokens"), tgt)).alias("deficit"),
    )


def mix_weights_sql(
    docs_sql: str,
    targets: Dict[str, int],
    budget: int,
    strata_col: str = "lang",
    tokens_col: str = "n_tokens",
) -> str:
    """DuckDB twin of :func:`mix_weights` (targets precompute to the same
    int64 literals driver-side, so both engines compare pure integers;
    target-only strata union in via NOT EXISTS — same rows as the Spark
    side's union-zeros re-aggregation)."""
    cases = " ".join(
        f"WHEN {strata_col} = '{s}' THEN CAST({int(budget) * int(pm) // 1000} AS BIGINT)"
        for s, pm in sorted(targets.items())
    )
    tgt = f"CASE {cases} ELSE CAST(0 AS BIGINT) END"
    if targets:
        values = ", ".join(
            "('" + str(s).replace("'", "''") + "')" for s in sorted(targets)
        )
        missing = f"""
  UNION ALL
  SELECT t.{strata_col}, CAST(0 AS BIGINT) AS available_tokens
  FROM (VALUES {values}) t({strata_col})
  WHERE NOT EXISTS (
    SELECT 1 FROM ({docs_sql}) d2 WHERE d2.{strata_col} = t.{strata_col}
  )"""
    else:
        missing = ""
    return f"""
SELECT {strata_col}, available_tokens,
       {tgt} AS target_tokens,
       LEAST(available_tokens, {tgt}) AS alloc_tokens,
       {tgt} - LEAST(available_tokens, {tgt}) AS deficit
FROM (
  SELECT {strata_col},
         CAST(SUM(COALESCE({tokens_col}, 0)) AS BIGINT) AS available_tokens
  FROM ({docs_sql}) d
  GROUP BY {strata_col}{missing}
)
"""


def mix_temp(
    df: DataFrame,
    budget: int,
    strata_col: str = "lang",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Temperature-scaled data-mixture allocation (the multilingual
    α-sampling move, α = ½ / temperature 2): each stratum's share of the
    token ``budget`` is proportional to the SQUARE ROOT of what it has, so
    low-resource strata are upsampled relative to their natural frequency
    and mega-strata stop dominating the mixture — the data-driven
    counterpart of :func:`mix_weights`, which takes shares as input.
    Output per stratum: ``available_tokens``, ``weight`` (⌊√available⌋),
    ``target_tokens`` (the stratum's budget slice), ``alloc_tokens``
    (target capped at available — α < 1 can ask a tiny stratum for more
    than it has) and ``deficit``.

    Everything after the one double-typed step (⌊√x⌋ — IEEE-correctly
    rounded in both engines, then floored to int64) is pure int64, so the
    output is hash-exact.  The budget slice is computed as
    ``(budget div W) * w + ((budget mod W) * w) div W`` — algebraically
    identical to ``budget * w div W`` but never forms the ``budget × w``
    product, which overflows int64 once budget × √tokens crosses 2⁶³
    (a trillion-token budget over a 100 TB corpus does).  ANSI mode makes
    any remaining overflow loud, not silent.

    Scale shape: ONE map-side-combining groupBy over a two-column
    projection (the corpus is scanned exactly once); the total weight
    comes from an UNPARTITIONED window over the already-aggregated frame
    — a single task, but over a STRATA-sized frame (languages/domains,
    ≤ ~10⁴ rows), which is the one place the global-window anti-pattern
    does not apply.  A 1-row-aggregate cross join would reference the
    aggregation subtree twice and re-scan the corpus (the mix_weights
    anti-join lesson); the window keeps it one subtree.  NULL strata
    aggregate as their own row, same as mix_weights."""
    from pyspark.sql import Window

    if budget < 0:
        raise ValueError(f"budget {budget} is negative")
    avail = df.groupBy(strata_col).agg(
        F.sum(F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))).alias(
            "available_tokens"
        )
    )
    w = avail.withColumn(
        "weight",
        F.floor(F.sqrt(F.col("available_tokens").cast("double"))).cast("long"),
    ).withColumn("_W", F.sum("weight").over(Window.partitionBy()))
    b = f"CAST({int(budget)} AS BIGINT)"
    tgt = F.expr(
        f"CASE WHEN _W > 0 THEN ({b} DIV _W) * weight"
        f" + (({b} % _W) * weight) DIV _W"
        f" ELSE CAST(0 AS BIGINT) END"
    )
    return w.select(
        strata_col,
        "available_tokens",
        "weight",
        tgt.alias("target_tokens"),
        F.least(F.col("available_tokens"), tgt).alias("alloc_tokens"),
        (tgt - F.least(F.col("available_tokens"), tgt)).alias("deficit"),
    )


def mix_temp_sql(
    docs_sql: str,
    budget: int,
    strata_col: str = "lang",
    tokens_col: str = "n_tokens",
) -> str:
    """DuckDB twin of :func:`mix_temp` — the identical ⌊√x⌋-then-int64
    arithmetic, with the same overflow-safe div/mod decomposition of
    ``budget * w div W``."""
    b = f"CAST({int(budget)} AS BIGINT)"
    tgt = (
        f"CASE WHEN total_w > 0 THEN ({b} // total_w) * weight"
        f" + (({b} % total_w) * weight) // total_w"
        f" ELSE CAST(0 AS BIGINT) END"
    )
    return f"""
SELECT {strata_col}, available_tokens, weight,
       {tgt} AS target_tokens,
       LEAST(available_tokens, {tgt}) AS alloc_tokens,
       {tgt} - LEAST(available_tokens, {tgt}) AS deficit
FROM (
  SELECT {strata_col},
         available_tokens,
         CAST(FLOOR(SQRT(CAST(available_tokens AS DOUBLE))) AS BIGINT) AS weight
  FROM (
    SELECT {strata_col},
           CAST(SUM(COALESCE({tokens_col}, 0)) AS BIGINT) AS available_tokens
    FROM ({docs_sql}) d
    GROUP BY {strata_col}
  )
) w
CROSS JOIN (
  SELECT CAST(SUM(CAST(FLOOR(SQRT(CAST(available_tokens AS DOUBLE))) AS BIGINT)) AS BIGINT) AS total_w
  FROM (
    SELECT CAST(SUM(COALESCE({tokens_col}, 0)) AS BIGINT) AS available_tokens
    FROM ({docs_sql}) d
    GROUP BY {strata_col}
  )
) t
"""


def seq_pack(
    df: DataFrame,
    capacity: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    mega_strata_threshold: int | str | None = None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate each stratum's documents in
    the deterministic (md5(id) asc, id asc) order and cut the token stream
    every ``capacity`` tokens, so every training sequence (bin) is exactly
    full and documents SPAN bins when they cross a boundary — the
    pre-training batch-construction move (pack-and-split, not
    pad-per-document).  Output is one row per (document, bin) overlap:
    ``bin_id`` (0-based within the stratum), ``bin_tokens`` (this
    document's tokens inside that bin), plus ``cum_before`` (the
    document's global token offset in its stratum) from which a trainer
    derives the intra-bin offset as ``greatest(cum_before - bin_id *
    capacity, 0)``.  Every bin except a stratum's last sums to exactly
    ``capacity`` (pinned in pytest); a document's bin rows sum to its
    token count.  Documents with NULL or ZERO token counts occupy no bin
    and are dropped (they also contribute 0 to every offset, so dropping
    them does not shift anyone else); NEGATIVE token counts reject
    loudly inside :func:`token_prefix` — folded into the running sum
    they would corrupt every later offset in the stratum.

    Scale shape: the offsets come from :func:`token_prefix` (window, or
    :func:`.scan.segmented_scan` past ``mega_strata_threshold``); the bin
    arithmetic after that is pure codegen (div/least/greatest) plus a
    bounded explode — a document fans out to ``1 + tokens/capacity``
    rows, a constant factor the caller picks.  Determinism is the point:
    the same corpus packs into byte-identical sequences at any
    partitioning or cluster size, so a resumed/re-sharded run rebuilds
    the same batches."""
    if capacity <= 0:
        raise ValueError(f"capacity {capacity} must be positive: bins of "
                         "non-positive size cannot hold any token")
    pref = token_prefix(
        df, strata_col=strata_col, id_col=id_col, tokens_col=tokens_col,
        mega_strata_threshold=mega_strata_threshold,
    )
    cap = F.lit(int(capacity)).cast("long")
    toks = F.coalesce(F.col(tokens_col).cast("long"), F.lit(0).cast("long"))
    first = F.expr(f"cum_before div {int(capacity)}")
    return (
        pref.filter(toks > 0)
        .withColumn("_last", F.expr(
            f"(cum_before + CAST(coalesce({tokens_col}, 0) AS BIGINT) - 1) "
            f"div {int(capacity)}"
        ))
        .withColumn("bin_id", F.explode(F.sequence(first, F.col("_last"))))
        .withColumn(
            "bin_tokens",
            F.least(F.col("cum_before") + toks, (F.col("bin_id") + 1) * cap)
            - F.greatest(F.col("cum_before"), F.col("bin_id") * cap),
        )
        .select(strata_col, id_col, "cum_before", "bin_id", "bin_tokens")
    )


def seq_pack_sql(
    docs_sql: str,
    capacity: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> str:
    """DuckDB twin of :func:`seq_pack` (identical hash order, exclusive
    window, and bin arithmetic; ``//`` is DuckDB's integer division and
    ``generate_series`` is inclusive like Spark's ``sequence``; the
    capacity literal is cast to BIGINT so every term stays int64)."""
    cap = f"CAST({int(capacity)} AS BIGINT)"
    return f"""
SELECT {strata_col}, {id_col}, cum_before, bin_id,
       LEAST(cum_before + toks, (bin_id + 1) * {cap})
         - GREATEST(cum_before, bin_id * {cap}) AS bin_tokens
FROM (
  SELECT {strata_col}, {id_col}, toks, cum_before,
         UNNEST(generate_series(cum_before // {cap}, (cum_before + toks - 1) // {cap})) AS bin_id
  FROM (
    SELECT {strata_col}, {id_col},
           CAST(COALESCE({tokens_col}, 0) AS BIGINT) AS toks,
           CAST(COALESCE(SUM({tokens_col}) OVER (
             PARTITION BY {strata_col}
             ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC, {id_col} ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cum_before
    FROM ({docs_sql}) d
  )
  WHERE toks > 0
)
"""


# ---------------------------------------------------------------------------
# DSIR-style importance weights (hashed bag-of-tokens, exact integers)
# ---------------------------------------------------------------------------

_DSIR_GUARD_BITS = 40


def dsir_weights(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    scale: int = 10**6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, w_micro): DSIR-style importance weight per document —
    how much more the TARGET distribution likes this doc's hashed
    bag-of-tokens than the raw corpus does (Xie et al., "Data Selection
    for Language Models via Importance Resampling": hashed n-gram
    features, target/raw likelihood ratio as the resampling weight).

    Exactness contract (the bm25/kmeans_fp discipline): the classic DSIR
    weight is Σ_tokens log(p_target(f)/p_raw(f)) — log is libm, so this
    operator uses the RATIONAL per-feature ratio with add-half Laplace
    smoothing, scaled to micro-units ENTIRELY in integer arithmetic:

        w_f = ⌊ (2·t_f+1)·(2·Q+B) · scale  //  (2·q_f+1)·(2·T+B) ⌋

    (t_f/q_f = target/raw occurrences of feature f, T/Q their totals,
    B = n_buckets).  The driver computes w_f in PYTHON ints (arbitrary
    precision — the numerator can pass int64 at corpus scale); the
    DuckDB twin does the same product in HUGEINT.  A per-doc weight is
    then Σ_tokens w_{f(token)} — pure int64 summation, bit-identical
    under any partial aggregation.  Features are 60-bit md5-prefix token
    hashes mod B (the simhash token-hash spelling, reproducible in
    DuckDB).

    Scale shape: pass 1 tokenizes once (explode → groupBy(f) with
    map-side combine — the exchange carries ≤ B·partitions rows) and
    collects the B-row feature table (a control frame); pass 2
    re-tokenizes, broadcast-joins the B-row weight table, and partially
    aggregates per doc — both passes map-only + one doc-keyed exchange,
    nothing quadratic.  A loud guard rejects weights ≥ 2^40: with
    tokens-per-doc < 2^20 the per-doc int64 sum provably can't overflow
    ANSI-loudly mid-job."""
    tok = _dsir_tokens(docs, target_pred, n_buckets, id_col, text_col)
    cnt = tok.groupBy("_f").agg(
        F.sum("_is_t").alias("_t"), F.count(F.lit(1)).alias("_q")
    ).collect()
    t = {int(r["_f"]): int(r["_t"]) for r in cnt}
    q = {int(r["_f"]): int(r["_q"]) for r in cnt}
    w = _dsir_weight_table(t, q, n_buckets, scale)
    return _dsir_score(tok, w, id_col)


def _dsir_tokens(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, _is_t, _f): one row per token occurrence with its hashed
    feature bucket — the shared tokenize+hash scan of the dsir family."""
    # ceiling 2^16: the driver computes every bucket's weight in a Python
    # loop and broadcasts the B-row table into each scoring task — both
    # stay control-sized (≤ 1 MB of int64 pairs) only while B is bounded
    if n_buckets < 2 or n_buckets > 1 << 16:
        raise ValueError(f"n_buckets {n_buckets} outside [2, 2^16]")
    return docs.select(
        F.col(id_col),
        F.when(target_pred, F.lit(1)).otherwise(F.lit(0)).alias("_is_t"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("_w"),
    ).withColumn(
        "_f",
        F.conv(F.substring(F.md5(F.encode(F.col("_w"), "UTF-8")), 1, 15), 16, 10)
        .cast("long")
        % n_buckets,
    )


def _dsir_weight_table(t: dict, q: dict, n_buckets: int, scale: int) -> dict:
    """Bucket → micro-unit weight, in exact Python ints (the products pass
    int64 at corpus scale; the DuckDB twin runs them in HUGEINT)."""
    T, Q = sum(t.values()), sum(q.values())
    w = {}
    for f in range(n_buckets):
        num = (2 * t.get(f, 0) + 1) * (2 * Q + n_buckets) * scale
        den = (2 * q.get(f, 0) + 1) * (2 * T + n_buckets)
        w[f] = num // den  # both positive: truncation == floor
        if w[f] >> _DSIR_GUARD_BITS:
            raise ValueError(
                f"bucket {f} weight {w[f]} ≥ 2^{_DSIR_GUARD_BITS}: per-doc "
                "int64 sums could overflow — raise n_buckets or rescale"
            )
    return w


def _dsir_score(tok: DataFrame, w: dict, id_col: str) -> DataFrame:
    """Σ_tokens w_f per doc via a broadcast join against the B-row
    driver-built weight table — partial-aggregated, pure int64."""
    wdf = local_frame(tok.sparkSession, list(w.items()), "_f bigint, _w_f bigint")
    return (
        tok.join(F.broadcast(wdf), "_f")
        .groupBy(id_col)
        .agg(F.sum("_w_f").alias("w_micro"))
    )


def dsir_weights_sql(
    docs_sql: str,
    target_pred_sql: str,
    n_buckets: int = 256,
    scale: int = 10**6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dsir_weights` — the weight products run in
    HUGEINT (DuckDB's int128), matching the driver's Python-int math."""
    return f"""
WITH tok0 AS (
  SELECT {id_col},
         CASE WHEN {target_pred_sql} THEN 1 ELSE 0 END AS is_t,
         unnest(string_split_regex(trim(lower({text_col})), '\\s+')) AS w
  FROM ({docs_sql}) d
), tok AS (
  SELECT {id_col}, is_t,
         CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % {n_buckets} AS f
  FROM tok0
), cnt AS (
  SELECT f, CAST(SUM(is_t) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS q
  FROM tok GROUP BY f
), tot AS (
  SELECT CAST(SUM(t) AS BIGINT) AS tt, CAST(SUM(q) AS BIGINT) AS qq FROM cnt
), wt AS (
  SELECT r.range AS f,
         CAST((CAST(2 * COALESCE(c.t, 0) + 1 AS HUGEINT)
               * (2 * tot.qq + {n_buckets}) * {scale})
              // (CAST(2 * COALESCE(c.q, 0) + 1 AS HUGEINT)
               * (2 * tot.tt + {n_buckets})) AS BIGINT) AS w_f
  FROM range({n_buckets}) r LEFT JOIN cnt c ON c.f = r.range CROSS JOIN tot
)
SELECT tok.{id_col}, CAST(SUM(wt.w_f) AS BIGINT) AS w_micro
FROM tok JOIN wt ON wt.f = tok.f
GROUP BY tok.{id_col}
"""


def dsir_registry(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The committed DSIR stats registry: ``(f, t, q)`` — target and raw
    token-occurrence counts per hashed feature bucket.  Counts are
    ADDITIVE across batches with disjoint doc-id sets: per-bucket SUM of
    two registries equals the from-scratch registry of the union (pinned
    in pytest) — the property that makes importance weighting
    incremental.  B-row state (a control frame, not data-sized): at
    100 TB this is the cheapest registry in the incr_* family."""
    return (
        _dsir_tokens(docs, target_pred, n_buckets, id_col, text_col)
        .groupBy(F.col("_f").alias("f"))
        .agg(F.sum("_is_t").alias("t"), F.count(F.lit(1)).alias("q"))
    )


def dsir_weights_incremental(
    batch: DataFrame,
    registry: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    scale: int = 10**6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple:
    """Recrawl-shaped :func:`dsir_weights`: weight a NEW batch against
    the committed stats registry without re-reading the corpus.  The
    batch's bucket counts merge with the registry's (per-bucket sums),
    weights derive from the COMBINED statistics, and only batch docs are
    scored — so the output is EXACTLY ``dsir_weights(corpus ∪ batch)``
    restricted to the batch's docs (pinned in pytest; weights depend
    only on global counts plus each doc's own tokens, so no corpus doc's
    weight is needed and none is retracted — corpus weights drift as
    statistics accrue, the DSIR analog of the incr_* retraction-free
    zone, and a pipeline re-weights the corpus only at checkpoint
    cadence).

    Returns ``(weights, delta)``: ``weights`` is (id, w_micro) for batch
    docs; ``delta`` is the batch's (f, t, q) rows — merge into the
    registry by per-bucket SUM (disjoint-doc-id contract, shared with
    the whole incr_* family).

    Scale shape: ONE batch tokenize scan (localCheckpoint'ed — it feeds
    the count aggregation and the scoring join), the B-row registry and
    B-row batch delta collect as control frames, and scoring is the same
    broadcast-join + partial aggregation as the batch path.  The corpus
    is structurally unreachable: nothing in the plan can touch it."""
    tok = _dsir_tokens(batch, target_pred, n_buckets, id_col, text_col).localCheckpoint(
        eager=True
    )
    cnt = tok.groupBy("_f").agg(
        F.sum("_is_t").alias("_t"), F.count(F.lit(1)).alias("_q")
    ).collect()
    bt = {int(r["_f"]): int(r["_t"]) for r in cnt}
    bq = {int(r["_f"]): int(r["_q"]) for r in cnt}
    reg = registry.select("f", "t", "q").collect()  # B-row control frame
    t = {int(r["f"]): int(r["t"]) for r in reg}
    q = {int(r["f"]): int(r["q"]) for r in reg}
    bad = [f for f in q if not 0 <= f < n_buckets]
    if bad:
        raise ValueError(
            f"registry buckets {bad[:3]}… outside [0, {n_buckets}): the "
            "registry was built with a different n_buckets — counts would "
            "silently drop from the weight table"
        )
    for f in set(bt) | set(bq):
        t[f] = t.get(f, 0) + bt.get(f, 0)
        q[f] = q.get(f, 0) + bq.get(f, 0)
    w = _dsir_weight_table(t, q, n_buckets, scale)
    weights = _dsir_score(tok, w, id_col)
    delta = local_frame(
        batch.sparkSession,
        [(f, bt.get(f, 0), bq[f]) for f in sorted(bq)],
        "f bigint, t bigint, q bigint",
    )
    return weights, delta


def epoch_order(
    docs: DataFrame,
    seed: str = "epoch1",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, epoch_pos): a deterministic global training-order manifest —
    the once-per-epoch corpus shuffle a trainer streams in order.

    The permutation key is ``md5(seed || ':' || id)`` (engine-portable,
    reshuffled by changing ``seed``), and the EXACT global position
    (key desc, id asc; BIGINT, 1-based) comes from
    :func:`.scan.segmented_scan` over one global stratum — the deliberate
    worst case that primitive exists for (one stratum = the whole
    corpus): no single task ever sees the full order, where the naive
    unpartitioned ``row_number`` window would serialize 100 TB through
    one task.  ``id_col`` must be unique and non-null (raises otherwise).

    The seed charset is locked to ``[A-Za-z0-9_.-]`` — the SQL twin
    embeds it as a string literal, so no quote or backslash may enter
    (the bpe_learn needle-injection guard applied here).
    """
    _check_epoch_seed(seed)
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    scanned = segmented_scan(docs.select(id_col), None, [key.desc()], id_col)
    return scanned.select(id_col, (F.col(SCAN_COL) + 1).alias("epoch_pos"))


_EPOCH_SEED_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


def _check_epoch_seed(seed: str) -> None:
    if not _EPOCH_SEED_RE.match(seed):
        raise ValueError(
            f"epoch seed {seed!r} outside [A-Za-z0-9_.-]+ — it is embedded "
            "as a SQL string literal in the oracle twin"
        )


def epoch_order_sql(
    docs_table: str = "documents",
    seed: str = "epoch1",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`epoch_order` — the same md5 permutation key
    ranked by the window spelling (rank = (key DESC, id ASC))."""
    _check_epoch_seed(seed)
    key = f"md5('{seed}:' || CAST({id_col} AS VARCHAR))"
    return f"""
SELECT {id_col},
       CAST(ROW_NUMBER() OVER (ORDER BY {key} DESC, {id_col} ASC) AS BIGINT)
         AS epoch_pos
FROM {docs_table}
"""


_FUNNEL_LANGS = ("en", "de", "fr")


def curation_funnel(
    docs: DataFrame,
    min_chars: int = 200,
    min_tokens: int = 30,
    langs: tuple = _FUNNEL_LANGS,
    text_col: str = "text",
) -> DataFrame:
    """(stage, n_docs): the curation pipeline's survivor funnel in ONE
    corpus scan — how many documents survive each successive gate
    (length → token count → language → no-PII).  The observability
    artifact a pipeline owner reads before touching any threshold:
    which stage is doing the cutting.

    All five counters are CASE-indicator sums inside a single
    aggregation (map-side combined; the scan is never repeated per
    stage), unpivoted to rows with ``stack`` — at 100 TB this costs
    exactly one pass and a 5-row result.  Language tags are charset-
    guarded (the epoch-seed move): the SQL twin embeds them as string
    literals."""
    _check_funnel_langs(langs)
    from .retrieval import _tokens_expr

    t = F.col(text_col)
    p1 = F.col("n_chars") >= min_chars
    p2 = F.expr(f"size({_tokens_expr(text_col, 'spark')})") >= min_tokens
    p3 = F.col("lang").isin(*langs)
    p4 = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))) == 0

    def ind(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = docs.agg(
        F.count(F.lit(1)).alias("c0"),
        ind(p1).alias("c1"),
        ind(p1 & p2).alias("c2"),
        ind(p1 & p2 & p3).alias("c3"),
        ind(p1 & p2 & p3 & p4).alias("c4"),
    )
    return agg.selectExpr(
        "stack(5, 'total', c0, 'min_chars', c1, 'min_tokens', c2, "
        "'lang', c3, 'no_pii', c4) AS (stage, n_docs)"
    )


_FUNNEL_LANG_RE = re.compile(r"^[A-Za-z0-9_-]+$")


def _check_funnel_langs(langs) -> None:
    bad = [l for l in langs if not _FUNNEL_LANG_RE.match(l)]
    if bad:
        raise ValueError(
            f"funnel language tags {bad!r} outside [A-Za-z0-9_-]+ — they "
            "are embedded as SQL string literals in the oracle twin"
        )


def curation_funnel_sql(
    docs_table: str = "documents",
    min_chars: int = 200,
    min_tokens: int = 30,
    langs: tuple = _FUNNEL_LANGS,
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`curation_funnel` — the same indicator sums
    over one MATERIALIZED aggregate row, unpivoted by UNION ALL."""
    _check_funnel_langs(langs)
    from .retrieval import _tokens_expr

    lang_list = ", ".join(f"'{l}'" for l in langs)
    p1 = f"(n_chars >= {min_chars})"
    p2 = f"(len({_tokens_expr(text_col, 'duckdb')}) >= {min_tokens})"
    p3 = f"(lang IN ({lang_list}))"
    p4 = f"(len(regexp_extract_all({text_col}, '{EMAIL_RE}')) = 0)"

    def ind(cond):
        return f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"

    return f"""
WITH f AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS c0,
         {ind(p1)} AS c1,
         {ind(f"{p1} AND {p2}")} AS c2,
         {ind(f"{p1} AND {p2} AND {p3}")} AS c3,
         {ind(f"{p1} AND {p2} AND {p3} AND {p4}")} AS c4
  FROM {docs_table}
)
SELECT 'total' AS stage, c0 AS n_docs FROM f
UNION ALL SELECT 'min_chars', c1 FROM f
UNION ALL SELECT 'min_tokens', c2 FROM f
UNION ALL SELECT 'lang', c3 FROM f
UNION ALL SELECT 'no_pii', c4 FROM f
"""
