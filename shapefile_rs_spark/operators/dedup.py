"""Deduplication operators for web-scale corpus hygiene.

Every operator has an exactly equivalent DuckDB oracle built from shared
primitives (md5 hex strings compare identically under both engines' binary
collation).  Hot-path hashing runs as Arrow-batched hashlib/numpy pandas
UDFs; the simhash kernel keeps its bit-identical pure-Catalyst HOF
spelling (:func:`simhash_from_hashes_expr`) as the reference it is pinned
against.

Scale notes (100 TB story):
* exact dedup — one hash-shuffle on the content digest; map-side partial
  aggregation halves traffic; digest is 16 bytes regardless of doc size.
* MinHash+LSH — the signature is computed in a single scan (map-only);
  the only shuffle is the band-bucket self-join, keyed on (band, band_key),
  which is uniform by construction (md5 output).  Hot buckets (boilerplate
  pages) can be capped with a count-filter before the self-join to bound
  the quadratic blowup inside a bucket.
* SimHash — map-only fingerprint; near-dup candidates then pair via
  fingerprint-prefix buckets (hamming-ball probing), not implemented here
  since LSH covers the recall path.
"""

from __future__ import annotations


import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import local
from ..session import widen

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "url") -> DataFrame:
    """Keep exactly one row per distinct text (the min-id row).

    Single-pass window form: ONE md5 per row and one shuffle on the digest
    (rank over partitionBy(md5) order by id), instead of hashing both sides
    of a groupBy+self-join — half the hashing, one join fewer.

    Edge semantics (intentional, pinned by tests): null texts form ONE
    group (md5(NULL) is NULL; a null window key partitions together), so
    exactly one null-text row survives — "one row per distinct text" with
    NULL as a distinct value.  Rows tied on (text, id) also collapse to
    one (row_number breaks the tie arbitrarily but keeps exactly one).
    The r2 md5-equijoin dropped all null-text rows and kept every tied
    row — both contradicted the contract."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col).cast("binary"))).orderBy(
        F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string> (whitespace-free texts assumed
    single-space separated, the documents-table convention).  Texts shorter
    than k words yield one shingle (the whole text)."""
    words = F.split(text, " ")
    n = F.greatest(F.lit(1), F.size(words) - F.lit(k - 1))
    return F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(words, i + F.lit(1), k)),
    )


def word_shingles_sql(text_sql: str, k: int = 3) -> str:
    """DuckDB twin of :func:`word_shingles` (used by oracle builders)."""
    words = f"string_split({text_sql}, ' ')"
    n = f"greatest(1, len({words}) - {k - 1})"
    return (
        f"list_transform(range(0, {n}), "
        f"i -> array_to_string(({words})[(i+1):(i+{k})], ' '))"
    )


_MERSENNE31 = (1 << 31) - 1


def _mh_params(num_hashes: int) -> tuple:
    """Deterministic universal-hash parameters (a_i, b_i), identical on
    the Spark and DuckDB sides by construction (seeded PRNG)."""
    import random

    rng = random.Random(0x5EED)
    a = [rng.randrange(1, _MERSENNE31) for _ in range(num_hashes)]
    b = [rng.randrange(0, _MERSENNE31) for _ in range(num_hashes)]
    return a, b


def shingle_hashes(shingles: Column) -> Column:
    """array<long>: one 60-bit md5-derived base hash per shingle, reduced
    mod 2^31-1 so the universal-hash products stay inside a signed 64-bit."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 15), 16, 10).cast(
            "long"
        )
        % F.lit(_MERSENNE31),
    )


def minhash_from_hashes(hs: Column, num_hashes: int = 12) -> Column:
    """MinHash signature (array<long>) over precomputed base hashes:
    component i is min over shingles of (a_i·h + b_i) mod (2^31-1) — the
    textbook universal-hash construction.

    Arrow-batched numpy implementation: one (num_hashes × total_shingles)
    broadcast multiply + ``minimum.reduceat`` per batch.  Exact-integer
    arithmetic (h < 2³¹, a < 2³¹ ⇒ a·h < 2⁶² fits int64), so the values are
    bit-identical to the DuckDB oracle.  Measured ~10× over an unrolled
    higher-order-function expression (HOFs are interpreted per element).

    Feed a ``hs`` COLUMN from a prior projection (as
    :func:`minhash_lsh_pairs` does) so the md5 base-hash pass runs once,
    not once per hash function."""
    a, b = _mh_params(num_hashes)
    a_v = np.asarray(a, dtype=np.int64)[:, None]
    b_v = np.asarray(b, dtype=np.int64)[:, None]

    @F.pandas_udf("array<long>")
    def _minhash(col: pd.Series) -> pd.Series:
        arrs = col.to_numpy()
        if not len(arrs):
            return pd.Series([], dtype=object)
        # null/empty inputs yield null signatures (matching the expression
        # form: array_min over an empty/null array is null)
        counts = np.fromiter(
            (0 if x is None else len(x) for x in arrs), dtype=np.int64, count=len(arrs)
        )
        nonempty = counts > 0
        if not nonempty.any():
            return pd.Series([None] * len(arrs), dtype=object)
        flat = np.concatenate([x for x in arrs if x is not None and len(x)]).astype(
            np.int64, copy=False
        )
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        ne_starts = starts[nonempty]
        # one hash function at a time: O(T) working set, not O(H·T) — this
        # host punishes large fresh allocations (~30 MB/s first-touch), so
        # an H×T broadcast matrix (hundreds of MB per worker) is a trap
        red = np.empty((int(nonempty.sum()), len(a)), dtype=np.int64)  # B'×H
        vals = np.empty_like(flat)
        for hidx in range(len(a)):
            np.multiply(flat, a_v[hidx, 0], out=vals)
            vals += b_v[hidx, 0]
            vals %= _MERSENNE31
            # empty segments occupy no width in flat, so consecutive
            # nonempty starts delimit exactly one segment each
            red[:, hidx] = np.minimum.reduceat(vals, ne_starts)
        out = [None] * len(arrs)
        for j, i in enumerate(np.flatnonzero(nonempty)):
            out[i] = red[j]
        return pd.Series(out, dtype=object)

    return _minhash(hs)


def minhash_signature(shingles: Column, num_hashes: int = 12) -> Column:
    """Convenience one-expression form; prefer the two-projection shape
    (shingle_hashes → minhash_from_hashes) in hot paths."""
    return minhash_from_hashes(shingle_hashes(shingles), num_hashes)


def minhash_signature_sql(shingles_sql: str, num_hashes: int = 12) -> str:
    a, b = _mh_params(num_hashes)
    a_sql = "[" + ", ".join(str(x) for x in a) + "]"
    b_sql = "[" + ", ".join(str(x) for x in b) + "]"
    hs = (
        f"list_transform({shingles_sql}, "
        f"s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {_MERSENNE31})"
    )
    return (
        f"list_transform(range(0, {num_hashes}), "
        f"i -> list_min(list_transform({hs}, "
        f"h -> (({a_sql})[i+1] * h + ({b_sql})[i+1]) % {_MERSENNE31})))"
    )


def lsh_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, band_key:string>> — md5 of each band's slice
    of the signature.  bands*rows_per_band must equal the signature size."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.encode(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(sig, b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        ),
                        "UTF-8",
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """(_id, _sig): the MinHash signature frame in its COMMITTABLE form —
    the artifact a 100 TB pipeline writes ONCE per corpus snapshot (e.g.
    via ``CheckpointedPipeline.run_stage``) so every later recrawl batch
    can :func:`minhash_lsh_join` against the committed parquet
    (``corpus_sigs=``) instead of re-reading and re-hashing the corpus
    text.  Map-only: Arrow-batched shingle hashing + the numpy minhash
    pass over :func:`~shapefile_rs_spark.session.widen`-ed docs.
    Signatures are deterministic (seeded universal-hash params), so a
    committed stage and a recompute are bit-identical — consumers must
    reuse the SAME (k, num_hashes)."""
    return widen(docs).select(
        F.col(id_col).alias("_id"),
        shingle_token_hashes_pd(F.col(text_col), k).alias("_hs"),
    ).select("_id", minhash_from_hashes(F.col("_hs"), num_hashes).alias("_sig"))


def minhash_algo_fingerprint(k: int, num_hashes: int, bands: int | None = None) -> str:
    """Cache-invalidation key for COMMITTED signature stages: a hash of
    the signature algorithm's own source (shingle hashing + minhash
    reduction), the derived universal-hash parameters, and the (k,
    num_hashes) config.  Any edit to the signature spelling — a seed
    change, a hash-width change like the simhash 60-bit widening — moves
    the fingerprint, so a stage written by OLD code can never be silently
    joined against new-batch signatures (the staged and recomputed paths
    must stay bit-identical).  Include this in any on-disk stage path or
    cache key that outlives the process.

    Pass ``bands`` when keying a committed BAND stage
    (:func:`minhash_band_rows`): the banding spelling
    (:func:`lsh_band_keys`) and the band count then join the blob, so a
    band-key edit or a ``bands`` change invalidates the band stage
    without touching the signature stage's key."""
    import hashlib
    import inspect

    blob = "|".join(
        [
            inspect.getsource(shingle_token_hashes_pd),
            inspect.getsource(minhash_from_hashes),
            str(_mh_params(num_hashes)),
            f"k={k}",
            f"h={num_hashes}",
            f"m={_MERSENNE31}",
        ]
        + ([inspect.getsource(lsh_band_keys), f"b={bands}"] if bands is not None else [])
    )
    return hashlib.md5(blob.encode()).hexdigest()[:16]


def minhash_band_rows(
    sigs: DataFrame, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """(_id, band, band_key) in its COMMITTABLE form — the second artifact
    an incremental pipeline publishes next to the ``(_id, _sig)`` stage:
    with only the signature stage committed, EVERY recrawl batch re-bands
    the full corpus (O(N) map work per batch, dedup.py's one remaining
    per-batch corpus-sized compute); with this stage committed too,
    :func:`minhash_lsh_join` (``corpus_bands=``) scans pre-banded parquet
    and the per-batch corpus-side work drops to the join's own shuffle.
    Same ``_band_rows`` spelling as the join itself, so the committed and
    recomputed band keys are bit-identical; key any on-disk stage by
    ``minhash_algo_fingerprint(k, num_hashes, bands)``."""
    assert num_hashes % bands == 0
    return _band_rows(sigs, bands, num_hashes // bands)


def _materialized_sigs(
    docs: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int
) -> DataFrame:
    """:func:`minhash_signatures`, eagerly ``localCheckpoint``-ed in one
    job — banding and pair scoring both read it, and recomputing the
    signature scan per consumer costs ~3×.  A checkpoint, not a
    ``persist()``: the result frames read it lazily, and its blocks are
    freed when the last frame reading them becomes unreachable
    (ContextCleaner), so no caller releases anything.  The trade-off:
    a lost checkpoint block fails the job instead of recomputing.
    ONE spelling shared by the self-join and asymmetric LSH operators."""
    return minhash_signatures(docs, id_col, text_col, k, num_hashes).localCheckpoint(eager=True)


def _cap_buckets(banded: DataFrame, bucket_cap: int | None, keys=("band", "band_key")) -> DataFrame:
    """Drop whole over-cap buckets before a banded join (the boilerplate
    B² guard) — the count window runs over the join's own partitioning,
    so the cap costs no extra shuffle.  ONE spelling for every LSH
    operator that takes a ``bucket_cap``."""
    if bucket_cap is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_n") <= bucket_cap)
        .drop("_n")
    )


def _score_pairs(
    pairs: DataFrame,
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    a_col: str,
    b_col: str,
    num_hashes: int,
) -> DataFrame:
    """Attach (n_agree, est_jaccard) to a candidate pair set by re-joining
    the two signature frames — ONE spelling of the agreement arithmetic
    (mirrored in the oracles' list_filter form)."""
    sa = sigs_a.select(F.col("_id").alias(a_col), F.col("_sig").alias("_sig_a"))
    sb = sigs_b.select(F.col("_id").alias(b_col), F.col("_sig").alias("_sig_b"))
    return (
        pairs.join(sa, a_col)
        .join(sb, b_col)
        .withColumn(
            "n_agree",
            F.size(
                F.filter(
                    F.zip_with(F.col("_sig_a"), F.col("_sig_b"), lambda x, y: x == y),
                    lambda eq: eq,
                )
            ),
        )
        .withColumn("est_jaccard", F.col("n_agree") / F.lit(num_hashes))
        .select(a_col, b_col, "n_agree", "est_jaccard")
    )


def _band_rows(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(_id, band, band_key) from a (_id, _sig) signature frame — the ONE
    spelling of the LSH shuffle key, shared by the pairing operator and the
    bucket-telemetry path so the audited key cannot drift from the joined
    key."""
    return sigs.select(
        "_id", F.explode(lsh_band_keys(F.col("_sig"), bands, rows_per_band)).alias("_b")
    ).select(
        "_id", F.col("_b.band").alias("band"), F.col("_b.band_key").alias("band_key")
    )


def minhash_banded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(_id, band, band_key): the band frame :func:`minhash_lsh_pairs`
    self-joins on, rebuilt standalone for bucket-population telemetry
    (single consumer — no checkpoint; the operator checkpoints its own
    signature frame because banding AND scoring both read it).  Built on
    :func:`minhash_signatures` — the ONE signature spelling — so the
    audited buckets cannot drift from the joined (or committed) ones."""
    assert num_hashes % bands == 0
    sigs = minhash_signatures(docs, id_col, text_col, k, num_hashes)
    return _band_rows(sigs, bands, num_hashes // bands)


def bucket_population_stats(banded: DataFrame, keys: list) -> dict:
    """Hot-bucket telemetry shared by the LSH family (minhash bands,
    simhash blocks, hyperplane tables): population of the largest bucket,
    the mean, and the bucket count for the frame's shuffle key.  The
    in-bucket self-join cost is Σ n_b² — ``max_bucket`` is the canary that
    a cap regression (or a saturated key space, the r3 simhash finding)
    is about to go quadratic, surfaced in bench JSON instead of as
    wall-time."""
    row = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.max("_n").alias("_max"),
            F.avg("_n").alias("_avg"),
            F.count(F.lit(1)).alias("_nb"),
        )
        .collect()[0]
    )
    if row["_max"] is None:  # empty frame: max/avg aggregate to NULL
        return {"max_bucket": 0, "avg_bucket": 0.0, "n_buckets": 0}
    return {
        "max_bucket": int(row["_max"]),
        "avg_bucket": round(float(row["_avg"]), 2),
        "n_buckets": int(row["_nb"]),
    }


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash+LSH.

    Output: (id_a, id_b, n_agree, est_jaccard) — one row per unordered pair
    of docs sharing ≥1 LSH band bucket; ``n_agree`` is the number of equal
    signature components (est_jaccard = n_agree / num_hashes).

    Plan shape: one scan computes signatures (map-only), explode to
    ``bands`` rows/doc, shuffle on (band, band_key), in-bucket self-join,
    distinct pair set, then two broadcast-free signature joins to score.

    ``bucket_cap`` bounds the quadratic in-bucket blowup: a band bucket
    holding more than ``bucket_cap`` docs (boilerplate — identical headers,
    templated pages) is dropped entirely before the self-join, turning a
    B² explosion into 0 candidate pairs for that bucket.  Exact duplicates
    inside a hot bucket are :func:`exact_dedup`'s job, not LSH's.  The
    count is a window over the SAME (band, band_key) partitioning the
    self-join shuffles on, so the cap costs no extra shuffle of the banded
    rows.
    """
    assert num_hashes % bands == 0
    sigs = _materialized_sigs(docs, id_col, text_col, k, num_hashes)
    banded = _cap_buckets(_band_rows(sigs, bands, num_hashes // bands), bucket_cap)
    left = banded.select("band", "band_key", F.col("_id").alias("id_a"))
    right = banded.select("band", "band_key", F.col("_id").alias("id_b"))
    pairs = (
        left.join(right, on=["band", "band_key"], how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _score_pairs(pairs, sigs, sigs, "id_a", "id_b", num_hashes)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def token_hashes(text: Column) -> Column:
    """array<long>: 60-bit md5-derived hash per whitespace token (exactly
    reproducible in DuckDB via CAST('0x'||substr(md5(w),1,15) AS BIGINT))."""
    return F.transform(
        F.split(text, " "),
        lambda w: F.conv(F.substring(F.md5(F.encode(w, "UTF-8")), 1, 15), 16, 10).cast(
            "long"
        ),
    )


def _md5_60_unique(flat: list) -> np.ndarray:
    """Per-instance 60-bit md5 ints for a flat token/shingle list, hashing
    each DISTINCT string once (corpora repeat tokens massively — Heaps'
    law — and near-dup corpora repeat shingles; r6 hashed every INSTANCE).
    Bit-identical to ``int(md5(w).hexdigest()[:15], 16)`` per instance."""
    import hashlib

    md5 = hashlib.md5
    # factorize = hash-based distinct (O(n)); np.unique would SORT the
    # object array — measured slower than hashing every instance
    codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
    vals = np.fromiter(
        (int(md5(w.encode("utf-8")).hexdigest()[:15], 16) for w in uniq),
        dtype=np.int64,
        count=len(uniq),
    )
    return vals[codes]


def _regroup(vals: np.ndarray, groups: list) -> list:
    """Split per-instance values back into per-doc lists following
    ``groups`` (None entries pass through as None)."""
    counts = np.fromiter(
        (len(x) for x in groups if x is not None),
        dtype=np.int64,
        count=sum(1 for x in groups if x is not None),
    )
    parts = np.split(vals, np.cumsum(counts)[:-1]) if len(counts) else []
    out, j = [], 0
    for x in groups:
        if x is None:
            out.append(None)
        else:
            out.append(parts[j])
            j += 1
    return out


def token_hashes_pd(text: Column) -> Column:
    """Arrow-batched twin of :func:`token_hashes` — hashlib md5 per
    DISTINCT token per batch (:func:`_md5_60_unique`) instead of per token
    instance (bit-identical 60-bit ints; null text → null array)."""

    @F.pandas_udf("array<long>")
    def _th(s: pd.Series) -> pd.Series:
        toks = [None if t is None else t.split(" ") for t in s]
        flat = [w for x in toks if x is not None for w in x]
        if not flat:
            return pd.Series(
                [None if x is None else [] for x in toks], dtype=object
            )
        return pd.Series(_regroup(_md5_60_unique(flat), toks), dtype=object)

    return _th(text)


def shingle_token_hashes_pd(text: Column, k: int = 3) -> Column:
    """Arrow-batched twin of ``shingle_hashes(word_shingles(text, k))`` —
    the two interpreted HOF passes fused into one hashlib pass per Arrow
    batch, hashing each DISTINCT shingle once (bit-identical: 60-bit md5
    prefix mod 2^31-1 per k-word shingle, whole-text shingle for short
    texts).  NULL text behaves like '' — the HOF chain's concat_ws skips
    the null slice and emits the single shingle '' (verified against the
    expression form), so the twin does too."""

    @F.pandas_udf("array<long>")
    def _sh(s: pd.Series) -> pd.Series:
        groups = []
        for t in s:
            words = ("" if t is None else t).split(" ")
            n = max(1, len(words) - k + 1)
            groups.append([" ".join(words[j : j + k]) for j in range(n)])
        flat = [g for x in groups for g in x]
        vals = _md5_60_unique(flat) % _MERSENNE31
        return pd.Series(_regroup(vals, groups), dtype=object)

    return _sh(text)


# Fingerprint width ceiling shared by every simhash entry point.  Two
# binding constraints meet at 60:
# * token hashes are 60-bit md5 prefixes — fingerprint bits ≥ 60 would
#   vote on constant-zero hash bits (always -1 ⇒ always unset): dead
#   discriminators, silently narrower buckets;
# * bit 63 of an int64 is the sign bit — `1 << 63` wraps negative in both
#   numpy and Spark, and the block extraction (Spark arithmetic shiftright
#   + pmod vs DuckDB's floor-division `//`) diverges on negative values,
#   so a bits=64 fingerprint would pass Spark-side and silently mismatch
#   the oracle (ADVICE r3).
_SIMHASH_MAX_BITS = 60


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash fingerprint over pre-computed token hashes: bit b of the
    fingerprint is set iff the sum over tokens of ±1 (sign of token-hash
    bit b) is positive.  Duplicate tokens vote multiply — standard.

    ``bits`` is capped at 60 (``_SIMHASH_MAX_BITS``): the token hashes only
    carry 60 informative bits, and 64 would hit the int64 sign bit.

    Arrow-batched numpy (the minhash discipline): token hashes concatenate
    ONCE per batch, each bit's ±1 votes reduce per-doc with
    ``np.add.reduceat`` — exact-integer arithmetic, bit-identical to
    :func:`simhash_from_hashes_expr` and the DuckDB twin.  The per-bit loop
    keeps the working set O(total_tokens), not O(bits·total_tokens) (this
    host punishes large fresh allocations)."""
    assert 1 <= bits <= _SIMHASH_MAX_BITS, (
        f"bits={bits}: fingerprints wider than {_SIMHASH_MAX_BITS} vote on "
        "constant-zero hash bits and (at 64) wrap the int64 sign"
    )

    @F.pandas_udf("long")
    def _simhash(col: pd.Series) -> pd.Series:
        arrs = col.to_numpy()
        out = np.zeros(len(arrs), dtype=np.int64)  # null/empty → 0 (expr parity)
        if not len(arrs):
            return pd.Series(out)
        counts = np.fromiter(
            (0 if x is None else len(x) for x in arrs), dtype=np.int64, count=len(arrs)
        )
        nonempty = counts > 0
        if not nonempty.any():
            return pd.Series(out)
        flat = np.concatenate([x for x in arrs if x is not None and len(x)]).astype(
            np.int64, copy=False
        )
        ne_starts = np.concatenate([[0], np.cumsum(counts)[:-1]])[nonempty]
        fp = np.zeros(int(nonempty.sum()), dtype=np.int64)
        votes = np.empty_like(flat)
        for b in range(bits):
            np.right_shift(flat, b, out=votes)
            votes &= 1
            votes *= 2
            votes -= 1
            fp |= (np.add.reduceat(votes, ne_starts) > 0).astype(np.int64) << b
        out[nonempty] = fp
        return pd.Series(out)

    return _simhash(hashes)


def simhash_from_hashes_expr(hashes: Column, bits: int = 16) -> Column:
    """Pure-Catalyst spelling of :func:`simhash_from_hashes` (bit-identical
    output; interpreted HOF folds — keep off hot paths, kept for plans that
    must avoid Python workers entirely)."""
    assert 1 <= bits <= _SIMHASH_MAX_BITS

    def voter(b: int):
        return lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)

    fp = F.lit(0)
    for b in range(bits):
        vote_sum = F.aggregate(hashes, F.lit(0).cast("long"), voter(b))
        fp = fp + F.when(vote_sum > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return fp


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """(id, simhash) per doc — map-only fingerprint pass."""
    return docs.select(
        F.col(id_col), F.col(text_col)
    ).withColumn("_h", token_hashes_pd(F.col(text_col))).select(
        id_col, simhash_from_hashes(F.col("_h"), bits).alias("simhash")
    )


def simhash_sql(text_sql: str, bits: int = 16) -> str:
    """DuckDB twin of the full simhash pipeline for one text expression."""
    assert 1 <= bits <= _SIMHASH_MAX_BITS
    hashes = (
        f"list_transform(string_split({text_sql}, ' '), "
        f"w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT))"
    )
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({hashes}, h -> ((h >> {b}) & 1) * 2 - 1)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"({terms})"


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard(sa: Column, sb: Column) -> Column:
    """Exact Jaccard similarity of two shingle arrays (set semantics)."""
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return inter / union


def ngram_jaccard_stats_pd(ta: Column, tb: Column, k: int = 3) -> Column:
    """Arrow-batched fusion of ``(size(array_distinct(word_shingles(ta))),
    ngram_jaccard(word_shingles(ta), word_shingles(tb)))`` — the HOF
    spelling evaluates FIVE interpreted transform/slice chains per row
    (r7 measurement: the interpreted-HOF cost class).  Python set ops per
    doc over the identical shingle strings; len()/len() division is the
    same correctly-rounded IEEE double as Spark's int÷int."""

    @F.pandas_udf("n_shingles int, jaccard double")
    def _nj(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        ns = np.empty(len(a), dtype=object)
        jc = np.empty(len(a), dtype=object)
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None or y is None:
                ns[i] = None
                jc[i] = None
                continue
            wa = x.split(" ")
            sa = {" ".join(wa[j : j + k]) for j in range(max(1, len(wa) - k + 1))}
            wb = y.split(" ")
            sb = {" ".join(wb[j : j + k]) for j in range(max(1, len(wb) - k + 1))}
            ns[i] = len(sa)
            jc[i] = len(sa & sb) / len(sa | sb)
        return pd.DataFrame({"n_shingles": ns, "jaccard": jc})

    return _nj(ta, tb)


def ngram_jaccard_sql(sa_sql: str, sb_sql: str) -> str:
    return (
        f"(len(list_intersect({sa_sql}, {sb_sql})) / "
        f"len(list_distinct(list_concat({sa_sql}, {sb_sql}))))"
    )


# ---------------------------------------------------------------------------
# dedup clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, cluster_id) for every id appearing in ``pairs`` — connected
    components with cluster_id = the component's minimum id (deterministic,
    oracle-friendly).  The standard final step of fuzzy dedup: near-dup
    PAIRS (MinHash/SimHash/embedding) are transitive in intent, so keeping
    one doc per CLUSTER needs components, not pairs.

    Adaptive strategy (the broadcast-threshold pattern): a pair set of at
    most :data:`..local.DRIVER_ROWS` rows is collected and solved with
    driver-side union-find — one job instead of an iterative loop.  Above
    it, distributed min-label propagation with pointer jumping: each round
    (1) every vertex takes the min label over its neighbors, then
    (2) labels jump to their label's label (path halving), so convergence
    is O(log diameter) rounds, not O(diameter).  Loop control is one
    driver-side agg per round — labels only decrease, so an unchanged
    label-sum ⟺ a fixed point.  Per-round frames persist only within the
    round (eagerly materialized by the agg, unpersisted after the swap).

    Scale: each round is two shuffles (edge join on dst, self-join on
    comp) over (V + E) rows; web-dedup components are shallow (near-dup
    clusters of a page family), so rounds ≈ 2-4.  Isolated docs never
    appear in ``pairs`` — union them back as their own singleton clusters
    downstream if required.
    """
    # collect_upto is the probe AND the fetch in ONE job: a
    # count()-then-collect() pair evaluates an unmaterialized upstream
    # (e.g. the full minhash banding pipeline) twice.  Overflow falls
    # through to the distributed path, having read only N+1 pairs.
    probe = local.collect_upto(pairs.select(id_a, id_b))
    if probe is not None:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in probe:
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min so every root IS its component's min id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        t = pairs.schema[id_a].dataType.simpleString()
        return local.local_frame(
            pairs.sparkSession,
            sorted((x, find(x)) for x in parent),
            f"id {t}, cluster_id {t}",
        )

    # eager checkpoint BEFORE the symmetrizing union: the loop joins
    # against `edges` every round — when ``pairs`` is the
    # minhash_lsh_pairs output, an unmaterialized plan would re-run the
    # full signature+banding+self-join pipeline O(log d) times, and a
    # checkpoint placed AFTER the union would still evaluate that pipeline
    # once per union arm (2×).  Checkpoint the one-directional edge set,
    # then union the cheap swap of the materialized frame.
    e = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        edges.select("src").distinct().select(F.col("src").alias("id"), F.col("src").alias("comp"))
    ).persist()
    # the finally releases both: a round that fails leaves its input
    # (labels) and its output (jumped) persisted
    jumped = labels
    try:
        # fixed-point check is id-type-agnostic: labels only decrease, so the
        # round is a no-op exactly when no row's label changed (a decimal-sum
        # shortcut would crash ANSI-cast on string ids)
        converged = False
        for _ in range(max_iter):
            nbr = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("comp").alias("_nbr"))
            )
            stepped = labels.join(nbr, labels["id"] == nbr["src"], "left").select(
                "id",
                F.col("comp").alias("_prev"),
                F.least(F.col("comp"), F.coalesce("_nbr", "comp")).alias("comp"),
            )
            hop = stepped.select(F.col("id").alias("_hid"), F.col("comp").alias("_hcomp"))
            jumped = (
                stepped.join(hop, stepped["comp"] == hop["_hid"], "left")
                .select(
                    "id",
                    "_prev",
                    F.least(F.col("comp"), F.coalesce("_hcomp", "comp")).alias("comp"),
                )
                .persist()
            )
            n_changed = jumped.agg(
                F.sum(F.when(F.col("comp") != F.col("_prev"), 1).otherwise(0)).alias("n")
            ).collect()[0]["n"]
            labels.unpersist()
            labels = jumped
            if not n_changed:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"dedup_clusters did not converge within max_iter={max_iter} rounds; "
                "raise max_iter (component diameter exceeds 2^rounds)"
            )
        out = labels.select("id", F.col("comp").alias("cluster_id"))
        # the caller consumes a cached frame; hand over a checkpointed copy so
        # the loop's last persist can be released without recompute
        return out.localCheckpoint(eager=True)
    finally:
        labels.unpersist()
        jumped.unpersist()
        e.unpersist()


# ---------------------------------------------------------------------------
# span-level dedup (C4-style)
# ---------------------------------------------------------------------------


def word_spans_sql(text_sql: str, k: int = 5) -> str:
    """DuckDB spelling of :func:`span_dedup_stats`' non-overlapping k-word
    spans (stride k; the tail span may be shorter).  ``coalesce(text, '')``
    mirrors the Spark side, which splits a null text as '' — so a
    null-text doc produces the single span '' in BOTH engines."""
    words = f"string_split(coalesce({text_sql}, ''), ' ')"
    n = f"greatest(1, CAST(ceil(len({words}) / {k}.0) AS INTEGER))"
    return (
        f"list_transform(range(0, {n}), "
        f"i -> array_to_string(({words})[(i*{k}+1):(i*{k}+{k})], ' '))"
    )


def span_dedup_stats(
    df: DataFrame, id_col: str = "id", text_col: str = "text", k: int = 5,
    hash_keys: bool = True,
) -> DataFrame:
    """(id, n_spans, n_dup_spans, dup_frac): per-document fraction of
    k-word spans that occur MORE THAN ONCE corpus-wide (C4's span-dedup
    signal — a doc with high dup_frac is boilerplate or a near-copy).

    Plan: explode spans (map-side, Arrow-batched — the interpreted
    transform()+Generate HOF path costs ~10× per CLAUDE.md), ONE shuffle
    for the global occurrence count (window; partial-combine does not
    apply to windows, but span keys are high-cardinality so the shuffle
    is uniform), then the per-doc rollup shuffles on id.

    ``hash_keys=True`` (default) replaces the span STRING with its
    ``xxhash64`` before the exchange — the count shuffle then carries one
    int64 per span instead of ~k words of text (≈8× less shuffle volume
    at k=5).  Only COUNTS feed the output, never the keys, so the DuckDB
    twin (which groups by the raw string) stays value-identical unless
    two distinct spans collide at 64 bits: expected colliding pairs for
    G distinct spans ≈ G²/2⁶⁵ — under 30 even at 10¹² spans, and a
    collision only over-counts one span.  ``hash_keys=False`` keeps the
    raw string for byte-level debugging."""
    from pyspark.sql import Window
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([df.schema[id_col], StructField("_span", StringType())])

    def gen(batches):
        import math

        for pdf in batches:
            ids_out, spans_out = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                words = ("" if t is None else t).split(" ")
                n = max(1, math.ceil(len(words) / k))
                ids_out.extend([i] * n)
                spans_out.extend(
                    " ".join(words[j * k : (j + 1) * k]) for j in range(n)
                )
            yield pd.DataFrame({id_col: ids_out, "_span": spans_out})

    spans = df.select(id_col, text_col).mapInPandas(gen, schema=schema)
    if hash_keys:
        # JVM-side hash in the same map stage as the explode: the exchange
        # then carries (id, int64) rows only — the span string never
        # leaves the scan stage
        spans = spans.select(id_col, F.xxhash64("_span").alias("_k"))
        w = Window.partitionBy("_k")
    else:
        w = Window.partitionBy("_span")
    counted = spans.withColumn("_n", F.count(F.lit(1)).over(w))
    return counted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias("n_dup_spans"),
        (
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("dup_frac"),
    )


def span_dedup_stats_sql(
    corpus_sql: str, id_col: str = "id", text_col: str = "text", k: int = 5
) -> str:
    """DuckDB twin of :func:`span_dedup_stats` (same integer counts, same
    IEEE division for dup_frac)."""
    spans = word_spans_sql(text_col, k)
    return f"""
WITH spans AS (
  SELECT {id_col}, unnest({spans}) AS _span FROM ({corpus_sql})
),
counted AS (
  SELECT {id_col}, COUNT(*) OVER (PARTITION BY _span) AS _n FROM spans
)
SELECT {id_col},
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN _n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(SUM(CASE WHEN _n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
FROM counted GROUP BY {id_col}
"""


# ---------------------------------------------------------------------------
# SimHash Hamming-ball pairing (multi-index)
# ---------------------------------------------------------------------------


def simhash_banded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
) -> DataFrame:
    """(_id, simhash, _band, _key): one row per (doc, fingerprint block) —
    the multi-index frame :func:`simhash_pairs` self-joins on, exposed so
    bucket-population telemetry (bench.py) audits the EXACT key the
    operator shuffles on rather than a reimplementation that could drift."""
    assert bits % bands == 0
    width = bits // bands
    fps = simhash(docs, id_col=id_col, text_col=text_col, bits=bits)
    # per-band (index, block value) pairs with LITERAL shift amounts —
    # shiftright takes a Python int, not a Column, so unroll the bands
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("_band"),
                (F.shiftright(F.col("simhash"), b * width) % F.lit(1 << width)).alias(
                    "_key"
                ),
            )
            for b in range(bands)
        ]
    )
    return (
        fps.select(F.col(id_col).alias("_id"), "simhash", F.explode(blocks).alias("_bk"))
        .select("_id", "simhash", F.col("_bk._band").alias("_band"), F.col("_bk._key").alias("_key"))
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    radius: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming): document pairs whose SimHash fingerprints
    differ in at most ``radius`` bits — the fingerprint-prefix bucketing
    the module docstring defers from :func:`simhash`.

    Multi-index construction (Charikar fingerprints with the Manku-style
    block index): the ``bits``-bit fingerprint splits into ``bands``
    contiguous blocks; by pigeonhole, any pair with hamming ≤ bands−1
    agrees on at least one whole block, so candidates = pairs sharing
    (block index, block value) and the exact ``bit_count(xor)`` refine
    never misses at radius ≤ bands−1 (larger radii trade recall).

    Defaults are the scale shape: 60-bit fingerprints / 4 bands ⇒ 15-bit
    blocks ⇒ 32,768 bucket values per band (r3's 32-bit/8-bit-block config
    bounded each band at 256 buckets — in-bucket population grows N/256 and
    the self-join goes quadratic; 60 is the exact-arithmetic ceiling, see
    ``_SIMHASH_MAX_BITS``).  ``bucket_cap`` is the residual guard for
    pathological buckets (boilerplate corpora vote identical fingerprints):
    a (band, block value) bucket holding more than ``bucket_cap`` docs is
    dropped whole before the self-join, same contract as
    :func:`minhash_lsh_pairs`; the count is a window over the join's own
    partitioning, so it costs no extra shuffle.

    Plan shape: map-only fingerprint scan, explode to ``bands`` rows/doc,
    ONE shuffle on the (band, block value) key, in-bucket self-join, the
    integer xor/popcount refine, hamming filter, THEN distinct — in-radius
    filtering before the distinct exchange so the dedup shuffle carries
    only true near-dup pairs, not every bucket collision (a pair colliding
    in several bands dedups identically either way)."""
    if radius > bands - 1:
        # pigeonhole guarantee only covers hamming ≤ bands-1
        import warnings

        warnings.warn(
            f"radius {radius} > bands-1 ({bands - 1}): recall is partial",
            stacklevel=2,
        )
    banded = _cap_buckets(
        simhash_banded(docs, id_col=id_col, text_col=text_col, bits=bits, bands=bands),
        bucket_cap,
        keys=("_band", "_key"),
    )
    # both sides of the self-join consume this pandas-UDF frame — without a
    # checkpoint each side re-runs the full scan + fingerprint vote pass
    # (the embed_neardup lesson; measured 3.4→2.5 s at sf0.1, 2× the table
    # read at scale)
    banded = banded.localCheckpoint(eager=True)
    left = banded.select(
        F.col("_id").alias("id_a"), F.col("simhash").alias("_fa"), "_band", "_key"
    )
    right = banded.select(
        F.col("_id").alias("id_b"), F.col("simhash").alias("_fb"), "_band", "_key"
    )
    return (
        left.join(right, ["_band", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).alias("hamming"))
        .filter(F.col("hamming") <= radius)
        .distinct()
    )


def simhash_pairs_sql(
    corpus_sql: str,
    id_col: str = "id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    radius: int = 3,
    bucket_cap: int | None = None,
) -> str:
    """DuckDB twin of :func:`simhash_pairs` (same integer arithmetic;
    positive fingerprints by the ``_SIMHASH_MAX_BITS`` bound, so DuckDB's
    floor-division block keys equal Spark's arithmetic shiftright).  The
    ``bucket_cap`` QUALIFY mirrors the Spark count-window filter; hamming
    filters before DISTINCT exactly as the operator does (same result set
    either side of the dedup — hamming is a pure function of the pair)."""
    width = bits // bands
    sim = simhash_sql(text_col, bits)
    bands_union = " UNION ALL ".join(f"SELECT {b} AS _band" for b in range(bands))
    cap = (
        f"QUALIFY COUNT(*) OVER (PARTITION BY _band, _key) <= {bucket_cap}"
        if bucket_cap is not None
        else ""
    )
    return f"""
WITH fps AS (
  SELECT {id_col} AS _id, {sim} AS simhash FROM ({corpus_sql})
),
banded AS (
  SELECT _id, simhash, _band,
         (simhash // (CAST(1 AS BIGINT) << (_band * {width}))) % {1 << width} AS _key
  FROM fps CROSS JOIN ({bands_union})
  {cap}
),
pairs AS (
  SELECT DISTINCT a._id AS id_a, b._id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM banded a JOIN banded b USING (_band, _key)
  WHERE a._id < b._id
    AND bit_count(xor(a.simhash, b.simhash)) <= {radius}
)
SELECT id_a, id_b, hamming FROM pairs
"""


# ---------------------------------------------------------------------------
# duplicated-substring coverage (overlapping k-grams)
# ---------------------------------------------------------------------------


def dup_coverage(
    df: DataFrame, id_col: str = "id", text_col: str = "text", k: int = 8,
    hash_keys: bool = True,
) -> DataFrame:
    """(id, n_tokens, n_dup_grams, covered_tokens, dup_cov_frac): per-doc
    fraction of TOKENS covered by overlapping ``k``-token grams that occur
    more than once corpus-wide — the token-granular approximation of
    suffix-array exact-substring dedup (Lee et al.'s dedup signal;
    RefinedWeb's exact-substring pass): a long shared passage marks every
    position it covers, where :func:`span_dedup_stats`'s NON-overlapping
    spans miss duplicates that straddle span boundaries and
    ``repetition_metrics`` only sees intra-doc repeats.

    Coverage is the union length of intervals [p, p+k) over duplicated
    gram positions p — computed with a LEAD window per doc: position p
    contributes min(k, next_p − p) tokens (k for the last) — exact integer
    arithmetic, identical in DuckDB.

    Plan: Arrow-batched gram explode (map-side), ONE shuffle on the gram
    key for the corpus-wide count (high-cardinality → uniform), then
    the id-partitioned LEAD window, whose exchange is REUSED by the
    per-doc aggregate (same key), and a final id join back to the per-doc
    token counts.

    ``hash_keys=True`` (default) replaces the k-token gram STRING with
    its ``xxhash64`` before the count exchange (≈8× less shuffle volume
    at k=8; the gram text never leaves the scan stage).  Counts, not
    keys, feed the output, so the DuckDB twin (raw-string grouping)
    stays value-identical barring a 64-bit collision between two
    distinct grams — expected pairs ≈ G²/2⁶⁵, under 30 at 10¹² grams,
    each inflating one gram's count.  ``hash_keys=False`` keeps the raw
    string for byte-level debugging (the span_dedup convention)."""
    from pyspark.sql import Window
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [
            df.schema[id_col],
            StructField("_pos", IntegerType()),
            StructField("_gram", StringType()),
            StructField("_nt", IntegerType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids_out, pos_out, gram_out, nt_out = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                words = ("" if t is None else t).split(" ")
                n = max(1, len(words) - k + 1)
                ids_out.extend([i] * n)
                pos_out.extend(range(n))
                gram_out.extend(" ".join(words[j : j + k]) for j in range(n))
                nt_out.extend([len(words)] * n)
            yield pd.DataFrame(
                {
                    id_col: ids_out,
                    "_pos": pd.array(pos_out, dtype="int32"),
                    "_gram": gram_out,
                    "_nt": pd.array(nt_out, dtype="int32"),
                }
            )

    # the gram explode is the CPU-heavy stage
    grams = widen(df.select(id_col, text_col)).mapInPandas(gen, schema=schema)
    if hash_keys:
        grams = grams.select(
            id_col, "_pos", "_nt", F.xxhash64("_gram").alias("_k")
        )
        wg = Window.partitionBy("_k")
    else:
        wg = Window.partitionBy("_gram")
    dup = grams.withColumn("_n", F.count(F.lit(1)).over(wg)).filter(F.col("_n") > 1)
    wd = Window.partitionBy(id_col).orderBy("_pos")
    # contribution clamps at the DOC END as well as the next dup position:
    # a sub-k doc's whole-text gram covers n_tokens tokens, not k (a bare
    # min(k, next-pos) would report dup_cov_frac > 1 for short docs)
    covered = dup.withColumn("_next", F.lead("_pos").over(wd)).select(
        id_col,
        F.least(
            F.lit(k),
            F.col("_nt") - F.col("_pos"),
            F.coalesce(F.col("_next") - F.col("_pos"), F.lit(k)),
        ).alias("_cov"),
    )
    per_doc = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sum("_cov").alias("covered_tokens"),
    )
    toks = df.select(
        id_col,
        F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).cast("long").alias(
            "n_tokens"
        ),
    )
    return toks.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long").alias("covered_tokens"),
        (
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
            / F.col("n_tokens")
        ).alias("dup_cov_frac"),
    )


def dup_coverage_sql(
    corpus_sql: str, id_col: str = "id", text_col: str = "text", k: int = 8
) -> str:
    """DuckDB twin of :func:`dup_coverage` (same integer coverage union,
    same IEEE division)."""
    return f"""
WITH toks AS (
  SELECT {id_col}, string_split(coalesce({text_col}, ''), ' ') AS w
  FROM ({corpus_sql})
),
grams AS (
  SELECT {id_col}, CAST(i AS INTEGER) AS _pos,
         array_to_string(w[(i+1):(i+{k})], ' ') AS _gram,
         CAST(len(w) AS INTEGER) AS _nt
  FROM (SELECT {id_col}, w, unnest(range(0, greatest(1, len(w) - {k - 1}))) AS i FROM toks)
),
dup AS (
  SELECT * FROM (
    SELECT {id_col}, _pos, _nt, COUNT(*) OVER (PARTITION BY _gram) AS _n FROM grams
  ) WHERE _n > 1
),
covered AS (
  SELECT {id_col},
         least({k}, _nt - _pos,
               coalesce(LEAD(_pos) OVER (PARTITION BY {id_col} ORDER BY _pos) - _pos, {k})) AS _cov
  FROM dup
),
per_doc AS (
  SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
         CAST(SUM(_cov) AS BIGINT) AS covered_tokens
  FROM covered GROUP BY {id_col}
)
SELECT t.{id_col},
       CAST(len(t.w) AS BIGINT) AS n_tokens,
       coalesce(p.n_dup_grams, 0) AS n_dup_grams,
       coalesce(p.covered_tokens, 0) AS covered_tokens,
       CAST(coalesce(p.covered_tokens, 0) AS DOUBLE) / len(t.w) AS dup_cov_frac
FROM toks t LEFT JOIN per_doc p USING ({id_col})
"""


# ---------------------------------------------------------------------------
# incremental (asymmetric) MinHash LSH: new batch vs existing corpus
# ---------------------------------------------------------------------------


def minhash_lsh_join(
    new_docs: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    bucket_cap: int | None = None,
    corpus_sigs: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """(new_id, corpus_id, n_agree, est_jaccard): candidate near-duplicate
    pairs between a NEW batch and an EXISTING corpus — the incremental
    path a recrawl pipeline needs: re-pairing the merged corpus with the
    self-join costs O((N+M)²/buckets) and re-reads the whole lake, while
    the asymmetric join costs O(M·collisions) and reads the corpus once
    — or not at all: pass ``corpus_sigs`` (a committed ``(_id, _sig)``
    stage written by :func:`minhash_signatures`, e.g. the ``sigs`` stage
    of ``jobs/run_curation.py``) and the corpus TEXT is never touched;
    only its signature parquet is scanned.  Exactly one of ``corpus`` /
    ``corpus_sigs`` must be given; ``corpus_sigs`` must have been built
    with the SAME ``(k, num_hashes)`` (signatures are deterministic, so
    a committed stage and a recompute are bit-identical).

    Same signature/banding primitives as :func:`minhash_lsh_pairs` (so
    thresholds transfer), but the join is new×corpus instead of self:
    no ``id_a < id_b`` dedup trick is needed or wanted (the sides are
    disjoint by contract; a doc appearing on both sides pairs with
    itself, which callers can filter).  ``bucket_cap`` caps the CORPUS
    side's band buckets (boilerplate guard — a new doc colliding with a
    boilerplate bucket would fan out B ways); the new side is assumed
    batch-sized and is not capped.

    Plan shape: two map-only signature scans (each checkpointed once —
    banding and scoring both read them), one shuffle on (band, band_key)
    for the asymmetric join, distinct pair set, then the signature
    re-join to score.

    ``corpus_bands`` (requires ``corpus_sigs``) goes one step further: a
    committed ``(_id, band, band_key)`` stage (:func:`minhash_band_rows`,
    maintained by the same ``append_delta`` path as the signature stage)
    replaces the per-batch re-banding of the corpus — the ONLY remaining
    corpus-sized map work on the committed path — so a recrawl batch's
    corpus-side cost is just the pre-banded parquet scan feeding the
    join.  Must be built with the SAME ``(k, num_hashes, bands)``
    (banding is deterministic: staged and recomputed keys are
    bit-identical, keyed on disk by ``minhash_algo_fingerprint(k,
    num_hashes, bands)``).
    """
    assert num_hashes % bands == 0
    rpb = num_hashes // bands
    if (corpus is None) == (corpus_sigs is None):
        raise ValueError("pass exactly one of corpus= (raw text) or corpus_sigs= (committed signature stage)")
    if corpus_bands is not None and corpus_sigs is None:
        raise ValueError(
            "corpus_bands= requires corpus_sigs= (pair scoring reads the "
            "signature stage; the band stage only feeds the bucket join)"
        )
    sigs_new = _materialized_sigs(new_docs, id_col, text_col, k, num_hashes)
    if corpus_sigs is not None:
        # committed-stage fast path: consumers (banding + scoring) each
        # scan the signature parquet — two cheap columnar reads, no
        # checkpoint job, and the corpus text is structurally
        # unreachable from this plan
        sigs_old = corpus_sigs.select("_id", "_sig")
    else:
        sigs_old = _materialized_sigs(corpus, id_col, text_col, k, num_hashes)
    banded_new = _band_rows(sigs_new, bands, rpb)
    if corpus_bands is not None:
        banded_old = _cap_buckets(
            corpus_bands.select("_id", "band", "band_key"), bucket_cap
        )
    else:
        banded_old = _cap_buckets(_band_rows(sigs_old, bands, rpb), bucket_cap)
    pairs = (
        banded_new.select("band", "band_key", F.col("_id").alias("new_id"))
        .join(
            banded_old.select("band", "band_key", F.col("_id").alias("corpus_id")),
            on=["band", "band_key"],
            how="inner",
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    return _score_pairs(pairs, sigs_new, sigs_old, "new_id", "corpus_id", num_hashes)


# ---------------------------------------------------------------------------
# cluster representative selection
# ---------------------------------------------------------------------------


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, cluster_id, cluster_size, kept): cluster the near-dup ``pairs``
    into connected components (:func:`dedup_clusters`) and keep the
    BEST-scoring document per cluster — (``score_col`` desc NULLS LAST,
    ``id_col`` asc), so ties and unscored docs resolve deterministically.
    This is the real pipeline semantic: naive fuzzy dedup keeps the
    min-id document, which for a page family is an arbitrary crawl
    artifact; keeping the highest-quality copy measurably improves the
    retained corpus at identical dedup rate.

    Documents absent from ``pairs`` are singleton clusters (cluster_id =
    their own id — consistent with the min-id labels of real components)
    and are always kept.  Output preserves one row per input document
    with ``kept`` marking survivors, so downstream stages can either
    filter kept or audit removal reasons.

    Scale shape: components come from the adaptive union-find /
    pointer-jumping strategy (see :func:`dedup_clusters`); the label frame
    is (V, 2) — broadcast-joined back to the corpus (near-dup vertices
    are a small fraction of a deduped crawl; at worst it falls back to a
    shuffle-hash join on the unique id).  The representative window
    partitions by cluster_id: near-dup clusters are page families —
    bounded fan-in by construction (the LSH bucket_cap upstream caps
    candidate generation), never a language-sized mega partition.
    """
    from pyspark.sql import Window

    comp = dedup_clusters(pairs, id_a=id_a, id_b=id_b).withColumnRenamed("id", id_col)
    labeled = docs.join(F.broadcast(comp), id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        labeled.withColumn("kept", F.row_number().over(w) == F.lit(1))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .select(id_col, "cluster_id", "cluster_size", "kept")
    )


# ---------------------------------------------------------------------------
# paragraph-level global dedup (C4 span-removal analog at paragraph grain)
# ---------------------------------------------------------------------------


def chunk_words(text: Column, words: int = 8) -> Column:
    """Re-delimit ``text`` into pseudo-paragraphs of ``words`` words by
    turning every ``words``-th space into a newline — pure-codegen
    regexp_replace, no Python and no interpreted HOF.  For corpora with
    real paragraph structure, skip this and feed :func:`para_dedup` the
    raw text; this helper exists for single-line corpora (Common-Crawl
    extracts collapse whitespace) where the dedup unit must be synthetic.
    The pattern consumes ``words`` space-separated tokens plus the
    following separator space, so a trailing partial chunk stays intact."""
    if words < 1:
        raise ValueError(f"words {words} must be >= 1")
    pat = r"((?:\S+ ){%d}\S+) " % (words - 1)
    return F.regexp_replace(text, pat, "$1\n")


def chunk_words_sql(text_sql: str, words: int = 8) -> str:
    """DuckDB twin of :func:`chunk_words` (RE2 spells the backreference
    ``\\1`` where Java spells ``$1``; the pattern itself is identical)."""
    pat = r"((?:\S+ ){%d}\S+) " % (words - 1)
    return (
        f"regexp_replace({text_sql}, '{pat}', '\\1' || chr(10), 'g')"
    )


def para_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
) -> DataFrame:
    """Global paragraph-level dedup (the C4 move, at paragraph grain):
    split every document on ``sep``, keep only the globally FIRST
    occurrence of each paragraph in the deterministic (md5(id) asc, id
    asc, position asc) order, and rebuild each document from its surviving
    paragraphs.  Paragraphs shorter than ``min_len`` characters are always
    kept (whitespace scaffolding is not boilerplate).  Output per doc:
    ``n_paras`` (split count), ``n_kept``, and ``text_dedup`` (kept
    paragraphs re-joined with ``sep`` in original order; empty string when
    everything was removed) — deterministic at any partitioning, so a
    re-sharded run deletes exactly the same text.

    Scale shape: the winner per paragraph is an AGGREGATION, not a
    content-keyed window — ``groupBy(paragraph).agg(min(struct(key, id,
    pos)))`` partial-aggregates map-side, so a boilerplate paragraph
    repeated a billion times ships ONE candidate row per map partition
    instead of serializing through a single window task (the host_cap
    mega-key lesson).  The join back on paragraph content is the one
    skew-exposed exchange; AQE skew-join splits it (the winners side is
    one row per distinct paragraph and replicates safely).  Join keys
    must stay the exact strings: an xxhash64 shortcut would merge
    colliding paragraphs and delete innocent text — unlike span_dedup's
    hashed COUNT keys, winner identity here feeds content back out.

    ``sep`` is a Java regex on the Spark side but a LITERAL in the DuckDB
    twin's string_split — keep it to regex-neutral separators (newline,
    tab) when oracle parity matters."""
    key = F.md5(F.col(id_col).cast("string").cast("binary"))
    # the exploded frame feeds BOTH the winner aggregation and the probe
    # side of the join back — localCheckpoint so the scan + chunk regexp
    # + explode run ONCE, not once per consumer (the embed_neardup
    # double-consumption rule; measured 2× the explode stage at sf1.0)
    paras = df.select(
        F.col(id_col).alias("_id"),
        key.alias("_k"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_idx", "_para"),
    ).localCheckpoint(eager=True)
    elig = F.length(F.col("_para")) >= min_len
    wins = (
        paras.filter(elig)
        .groupBy("_para")
        .agg(F.min(F.struct("_k", "_id", "_idx")).alias("_w"))
    )
    marked = paras.join(wins, "_para", "left").withColumn(
        "_keep",
        (~elig) | (F.struct("_k", "_id", "_idx") == F.col("_w")),
    )
    return (
        marked.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_idx", "_para"))
                        )
                    ),
                    lambda x: x["_para"],
                ),
                sep,
            ).alias("text_dedup"),
        )
    )


def para_dedup_sql(
    docs_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_sql: str = "chr(10)",
    min_len: int = 1,
) -> str:
    """DuckDB twin of :func:`para_dedup`.  Parallel ``unnest`` +
    ``generate_subscripts`` align position with content (1-based where
    Spark's posexplode is 0-based — position only orders within a doc, so
    the shift cancels); the winner is the ROW_NUMBER()=1 occurrence under
    the same (md5 key, id, position) order; ``string_agg`` skips the
    NULLed removed paragraphs and keeps source order."""
    return f"""
SELECT {id_col},
       COUNT(*) AS n_paras,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(STRING_AGG(CASE WHEN keep THEN para END, {sep_sql} ORDER BY idx ASC), '') AS text_dedup
FROM (
  SELECT {id_col}, para, idx,
         CASE WHEN LENGTH(para) < {min_len} THEN TRUE
              ELSE ROW_NUMBER() OVER (
                PARTITION BY para ORDER BY k ASC, {id_col} ASC, idx ASC
              ) = 1
         END AS keep
  FROM (
    SELECT {id_col}, md5(CAST({id_col} AS VARCHAR)) AS k,
           UNNEST(string_split({text_col}, {sep_sql})) AS para,
           generate_subscripts(string_split({text_col}, {sep_sql}), 1) AS idx
    FROM ({docs_sql}) d
  )
)
GROUP BY {id_col}
"""


def para_dedup_incremental(
    batch: DataFrame,
    registry: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
) -> tuple:
    """Recrawl-shaped :func:`para_dedup`: dedup a NEW batch against a
    COMMITTED paragraph registry (the distinct dedup-eligible paragraphs
    already kept in the corpus) without ever re-reading — or re-exploding
    — the corpus text, the incr_neardup contract at paragraph grain.  A
    batch paragraph drops if the registry has it (committed content wins
    unconditionally: it already shipped); otherwise the batch's first
    occurrence in the deterministic (md5(id), id, position) order wins,
    exactly para_dedup's rule.  Paragraphs under ``min_len`` chars are
    always kept and never consult the registry.

    Returns ``(cleaned, new_paras)``: ``cleaned`` has para_dedup's output
    schema (``n_paras``/``n_kept``/``text_dedup``); ``new_paras`` is the
    one-column (``para``) frame of this batch's surviving eligible
    paragraphs — exactly the rows to APPEND to the registry (the
    ``lineage`` ``append_delta`` commit pattern), keeping the next batch's
    join input precomputed.  registry(corpus) ∪ appended batches ==
    registry(corpus ∪ batches) — pinned in pytest, so incremental and
    from-scratch dedup agree.

    Scale shape: the batch explodes map-only; the registry join and the
    batch-internal winner aggregation shuffle on paragraph content
    (AQE skew-join backstops boilerplate keys; winner is the same
    partial_min combine as para_dedup — plan-pinned).  The registry side
    ships one row per DISTINCT corpus paragraph and is never grouped or
    windowed — O(batch + collisions), not O(corpus)."""
    key = F.md5(F.col(id_col).cast("string").cast("binary"))
    paras = batch.select(
        F.col(id_col).alias("_id"),
        key.alias("_k"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_idx", "_para"),
    )
    elig = F.length(F.col("_para")) >= min_len
    reg = registry.select(
        F.col("para").alias("_para"), F.lit(True).alias("_seen")
    )
    # the explode + registry join (the one skew-exposed exchange) feeds
    # BOTH sides of the wins self-join, and `marked` feeds both returned
    # frames — localCheckpoint each shared frame once (the embed_neardup
    # double-consumption rule) so the batch explodes and joins the
    # registry exactly once per call, not once per downstream consumer
    joined = paras.join(reg, "_para", "left").localCheckpoint(eager=True)
    wins = (
        joined.filter(elig & F.col("_seen").isNull())
        .groupBy("_para")
        .agg(F.min(F.struct("_k", "_id", "_idx")).alias("_w"))
    )
    # marked stays LAZY (r7): both consumers (cleaned, new_paras)
    # derive from the CHECKPOINTED joined frame — re-running the winner
    # agg + join per consumer is one vocabulary-keyed pass over the
    # checkpoint, cheaper than an extra eager materialization job
    marked = joined.join(wins, "_para", "left").withColumn(
        "_keep",
        (~elig)
        | (
            F.col("_seen").isNull()
            & (F.struct("_k", "_id", "_idx") == F.col("_w"))
        ),
    )
    cleaned = (
        marked.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_idx", "_para"))
                        )
                    ),
                    lambda x: x["_para"],
                ),
                sep,
            ).alias("text_dedup"),
        )
    )
    # no distinct needed: _keep for eligible rows holds only where the
    # occurrence struct EQUALS the unique per-paragraph minimum, so each
    # surviving paragraph appears exactly once
    new_paras = marked.filter(F.col("_keep") & elig).select(
        F.col("_para").alias("para")
    )
    return cleaned, new_paras


def para_registry(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
) -> DataFrame:
    """The committed-registry builder: the distinct dedup-eligible
    paragraphs a corpus KEEPS under :func:`para_dedup` — which, because
    every duplicate group keeps exactly one occurrence of the same
    string, is simply the corpus's distinct eligible paragraph set (no
    winner ordering needed, hence no id column either; one distinct
    shuffle)."""
    return (
        docs.select(
            F.posexplode(F.split(F.col(text_col), sep)).alias("_idx", "_para")
        )
        .filter(F.length(F.col("_para")) >= min_len)
        .select(F.col("_para").alias("para"))
        .distinct()
    )


def para_dedup_incremental_sql(
    batch_sql: str,
    registry_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_sql: str = "chr(10)",
    min_len: int = 1,
) -> str:
    """DuckDB twin of :func:`para_dedup_incremental`'s ``cleaned`` output
    (``registry_sql`` must yield one ``para`` column, e.g. the
    :func:`para_registry` twin: SELECT DISTINCT eligible paras)."""
    return f"""
SELECT {id_col},
       COUNT(*) AS n_paras,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(STRING_AGG(CASE WHEN keep THEN para END, {sep_sql} ORDER BY idx ASC), '') AS text_dedup
FROM (
  SELECT {id_col}, para, idx,
         CASE WHEN LENGTH(para) < {min_len} THEN TRUE
              WHEN para IN (SELECT para FROM ({registry_sql}) r) THEN FALSE
              ELSE ROW_NUMBER() OVER (
                PARTITION BY para ORDER BY k ASC, {id_col} ASC, idx ASC
              ) = 1
         END AS keep
  FROM (
    SELECT {id_col}, md5(CAST({id_col} AS VARCHAR)) AS k,
           UNNEST(string_split({text_col}, {sep_sql})) AS para,
           generate_subscripts(string_split({text_col}, {sep_sql}), 1) AS idx
    FROM ({batch_sql}) d
  )
)
GROUP BY {id_col}
"""


def line_prune(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
    max_docs: int = 2,
) -> DataFrame:
    """Global line-frequency boilerplate removal (the CCNet/RefinedWeb
    move): split every document on ``sep`` and drop EVERY occurrence of a
    line that appears in ``max_docs`` or more DISTINCT documents —
    navigation chrome, cookie banners, and footer text vanish corpus-wide,
    including their first occurrence (where :func:`para_dedup` keeps
    exactly one winner, this keeps zero: boilerplate has no best copy).
    Lines shorter than ``min_len`` characters are always kept.  Output per
    doc: ``n_lines``, ``n_kept`` and ``text_clean`` (survivors re-joined
    with ``sep`` in source order; empty string when everything was
    boilerplate) — a pure function of the corpus, deterministic at any
    partitioning.

    Scale shape: the frequency table is a DISTINCT-then-count aggregation
    — ``distinct(line, id)`` partial-aggregates map-side (a boilerplate
    line repeated across a mapper's million pages ships one row per
    distinct doc it touches, and Spark's two-phase distinct-agg rewrite
    keeps both exchanges combining) — and only lines CROSSING the
    ``max_docs`` threshold survive the HAVING filter, so the join-back
    side is boilerplate-sized, not distinct-line-sized: at 100 TB the hot
    side is typically small enough for AQE to broadcast, and when it is
    not, it is one row per offending line and replicates safely under
    skew-join splitting.  Join keys stay the exact strings (same rationale
    as para_dedup: hashed keys would merge colliding lines and delete
    innocent text).  ``sep`` is a Java regex Spark-side but a LITERAL in
    the DuckDB twin — keep it regex-neutral when oracle parity matters.

    Reference analog: the dedup contract family (SURVEY §2; the reference
    engine has no corpus-level text ops — this is training-pipeline
    surface built on the same exchange discipline as W1 skew handling).
    """
    # three consumers (frequency table, anti-join probe, per-doc totals)
    # — localCheckpoint so the scan + explode run once, not three times
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_idx", "_line"),
    ).localCheckpoint(eager=True)
    elig = F.length(F.col("_line")) >= min_len
    hot = (
        lines.filter(elig)
        .select("_line", "_id")
        .distinct()
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") >= max_docs)
        .select("_line")
    )
    # r7: a LEFT join + keep flag replaces the former LeftAnti + a second
    # totals aggregation + an outer join-back — ONE doc-keyed aggregation
    # computes totals, survivors and the rebuild together (the para_dedup
    # shape; hot is distinct lines, so the join never fans out, and a
    # short line is never hot — the hot set filters to eligible lines)
    marked = lines.join(
        hot.withColumn("_hot", F.lit(True)), "_line", "left"
    ).withColumn("_keep", F.col("_hot").isNull())
    return marked.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_idx", "_line"))
                        )
                    ),
                    lambda x: x["_line"],
                ),
                sep,
            ),
            F.lit(""),
        ).alias("text_clean"),
    )


def line_prune_sql(
    docs_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_sql: str = "chr(10)",
    min_len: int = 1,
    max_docs: int = 2,
) -> str:
    """DuckDB twin of :func:`line_prune`: the frequency table is a
    GROUP BY line HAVING COUNT(DISTINCT id) ≥ threshold; survivors rebuild
    via STRING_AGG in source order (skipping NULLed removals)."""
    return f"""
SELECT {id_col},
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(STRING_AGG(CASE WHEN keep THEN line END, {sep_sql} ORDER BY idx ASC), '') AS text_clean
FROM (
  SELECT l.{id_col}, l.line, l.idx,
         (LENGTH(l.line) < {min_len} OR h.line IS NULL) AS keep
  FROM (
    SELECT {id_col},
           UNNEST(string_split({text_col}, {sep_sql})) AS line,
           generate_subscripts(string_split({text_col}, {sep_sql}), 1) AS idx
    FROM ({docs_sql}) d
  ) l
  LEFT JOIN (
    SELECT line FROM (
      SELECT {id_col},
             UNNEST(string_split({text_col}, {sep_sql})) AS line
      FROM ({docs_sql}) d
    ) WHERE LENGTH(line) >= {min_len}
    GROUP BY line HAVING COUNT(DISTINCT {id_col}) >= {max_docs}
  ) h USING (line)
)
GROUP BY {id_col}
"""


def line_registry(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
) -> DataFrame:
    """The committed line-frequency registry: ``(line, n_docs)`` — how
    many DISTINCT documents each eligible line appears in.  Unlike the
    paragraph registry (a set), frequencies are ADDITIVE across batches
    with disjoint doc-id sets: merging a batch's delta by summing
    ``n_docs`` per line reconstructs the from-scratch registry exactly
    (pinned in pytest) — the property that makes boilerplate detection
    incremental.  Distinct-line-sized state, like the committed MinHash
    signature stage; lives in a lineage stage at scale.

    Scale shape: distinct(line, doc) then count — both aggregation
    phases combine map-side, so a billion-occurrence boilerplate line
    ships one row per (mapper, distinct doc), never N occurrences."""
    return (
        line_doc_pairs(docs, id_col=id_col, text_col=text_col, sep=sep, min_len=min_len)
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def line_doc_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
) -> DataFrame:
    """Distinct ``(line, _id)`` pairs of eligible lines — the registry's
    doc-grain form: a replayed or re-sent batch yields the same pairs, so
    a registry that appends them keyed on both columns is
    content-idempotent without any doc-id disjointness contract (counts
    alone cannot tell a recount from a new document)."""
    return (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), sep)).alias("line"),
        )
        .filter(F.length(F.col("line")) >= min_len)
        .select("line", "_id")
        .distinct()
    )


def line_prune_incremental(
    batch: DataFrame,
    registry: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_len: int = 1,
    max_docs: int = 2,
) -> tuple:
    """Recrawl-shaped :func:`line_prune`: prune a NEW batch against the
    committed line-frequency registry without re-reading the corpus.  A
    batch line drops from EVERY batch doc when its TOTAL doc-frequency —
    registry count plus this batch's distinct-doc count — reaches
    ``max_docs``; already-emitted corpus docs are not retracted
    (boilerplate only ever gains frequency).  Because
    the threshold test uses the combined count, the cleaned batch is
    EXACTLY ``line_prune(corpus ∪ batch)`` restricted to the batch's
    docs (pinned in pytest) — the incremental and global contracts agree
    wherever retraction is impossible.

    Returns ``(cleaned, delta)``: ``cleaned`` has line_prune's output
    schema; ``delta`` is this batch's ``(line, n_docs)`` frequency rows —
    merge into the registry by per-line SUM (valid when batch doc-ids are
    disjoint from the corpus's, the recrawl-batch contract shared by the
    whole incr_* family).

    Scale shape: the batch explodes map-only (localCheckpoint'ed once —
    it feeds the count, the join, and the rebuild); the registry joins on
    line content against the BATCH's distinct lines only (O(batch +
    collisions), never O(corpus)); the hot set is filtered to
    threshold-crossers before the anti-join, exactly like line_prune."""
    lines = batch.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_idx", "_line"),
    ).localCheckpoint(eager=True)
    elig = F.length(F.col("_line")) >= min_len
    # bf stays LAZY: both its consumers (the hot set and the returned
    # delta) re-aggregate from the CHECKPOINTED lines frame — a cheap
    # vocabulary-keyed agg — so an eager bf materialization was a wasted
    # scheduling round-trip (r7)
    bf = (
        lines.filter(elig)
        .select("_line", "_id")
        .distinct()
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_bn"))
    )
    reg = registry.select(F.col("line").alias("_line"), F.col("n_docs").alias("_rn"))
    hot = (
        bf.join(reg, "_line", "left")
        .filter((F.col("_bn") + F.coalesce(F.col("_rn"), F.lit(0))) >= max_docs)
        .select("_line")
    )
    # same single-aggregation rebuild as line_prune (r7)
    marked = lines.join(
        hot.withColumn("_hot", F.lit(True)), "_line", "left"
    ).withColumn("_keep", F.col("_hot").isNull())
    cleaned = marked.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_idx", "_line"))
                        )
                    ),
                    lambda x: x["_line"],
                ),
                sep,
            ),
            F.lit(""),
        ).alias("text_clean"),
    )
    delta = bf.select(F.col("_line").alias("line"), F.col("_bn").alias("n_docs"))
    return cleaned, delta


def line_prune_incremental_sql(
    batch_sql: str,
    registry_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_sql: str = "chr(10)",
    min_len: int = 1,
    max_docs: int = 2,
) -> str:
    """DuckDB twin of :func:`line_prune_incremental`'s ``cleaned`` output
    (``registry_sql`` must yield (line, n_docs), e.g. the
    :func:`line_registry` twin)."""
    return f"""
SELECT {id_col},
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(STRING_AGG(CASE WHEN keep THEN line END, {sep_sql} ORDER BY idx ASC), '') AS text_clean
FROM (
  SELECT l.{id_col}, l.line, l.idx,
         (LENGTH(l.line) < {min_len}
          OR (COALESCE(bf.n, 0) + COALESCE(r.n_docs, 0)) < {max_docs}) AS keep
  FROM (
    SELECT {id_col},
           UNNEST(string_split({text_col}, {sep_sql})) AS line,
           generate_subscripts(string_split({text_col}, {sep_sql}), 1) AS idx
    FROM ({batch_sql}) d
  ) l
  LEFT JOIN (
    SELECT line, CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n FROM (
      SELECT {id_col},
             UNNEST(string_split({text_col}, {sep_sql})) AS line
      FROM ({batch_sql}) d
    ) WHERE LENGTH(line) >= {min_len}
    GROUP BY line
  ) bf USING (line)
  LEFT JOIN ({registry_sql}) r USING (line)
)
GROUP BY {id_col}
"""
