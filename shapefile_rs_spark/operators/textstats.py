"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions (regex + higher-order array functions), each
with an exact DuckDB twin: language-ID heuristics, quality scoring, BPE-ish
token counting, and winnowing-style document fingerprints.  Ratios are
int/int divisions — bit-identical doubles on both engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks.
# Kept to constructs whose semantics agree between Java regex (Spark) and
# DuckDB's RE2.
TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def bpe_token_count(text: Column) -> Column:
    """Number of BPE-ish pre-tokens (regex token runs)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0))


def bpe_token_count_sql(text_sql: str) -> str:
    return f"len(regexp_extract_all({text_sql}, '{TOKEN_RE}'))"


def quality_metrics(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality features: sizes, stopword/digit ratios, mean word
    length, and a composite keep-score — the standard web-corpus filters
    (C4/Gopher-style) as one codegen'd projection."""
    text = F.col(text_col)
    words = F.split(text, " ")
    n_words = F.size(words)
    n_chars = F.length(text)
    n_stop = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    n_digit_runs = F.size(F.regexp_extract_all(text, F.lit("[0-9]+"), 0))
    mean_word_len = (n_chars - (n_words - F.lit(1))) / n_words
    stop_ratio = n_stop / n_words
    quality = (
        F.when((n_words >= 5) & (mean_word_len >= 2.0) & (mean_word_len <= 12.0), F.lit(1))
        .otherwise(F.lit(0))
    )
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        bpe_token_count(text).alias("n_bpe_tokens"),
        n_stop.alias("n_stopwords"),
        n_digit_runs.alias("n_digit_runs"),
        mean_word_len.alias("mean_word_len"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality_pass"),
    )


def quality_metrics_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    words = f"string_split({text_col}, ' ')"
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    n_words = f"len({words})"
    mean_wl = f"((length({text_col}) - ({n_words} - 1)) / {n_words})"
    return f"""
SELECT {id_col},
       {n_words} AS n_words,
       length({text_col}) AS n_chars,
       {bpe_token_count_sql(text_col)} AS n_bpe_tokens,
       len(list_filter({words}, w -> w IN ({stop_list}))) AS n_stopwords,
       len(regexp_extract_all({text_col}, '[0-9]+')) AS n_digit_runs,
       {mean_wl} AS mean_word_len,
       (len(list_filter({words}, w -> w IN ({stop_list}))) / {n_words}) AS stop_ratio,
       (CASE WHEN {n_words} >= 5 AND {mean_wl} >= 2.0 AND {mean_wl} <= 12.0
             THEN 1 ELSE 0 END) AS quality_pass
FROM {table}
"""


def char_minhash(text: Column, window: int = 8) -> Column:
    """1-permutation char-shingle min-hash: min md5 over all ``window``-char
    substrings (stride 1).  A whole-document similarity signal — NOT
    winnowing (no per-window local minima; see :func:`winnow_fingerprint`
    for the positional fingerprint).  Texts shorter than the window hash
    their whole content."""
    n = F.greatest(F.lit(1), F.length(text) - F.lit(window - 1))
    return F.array_min(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(1)),
            lambda i: F.md5(F.encode(F.substring(text, i + F.lit(1), window), "UTF-8")),
        )
    )


def char_minhash_pd(text: Column, window: int = 8) -> Column:
    """Arrow-batched twin of :func:`char_minhash`: hashlib md5 per sliding
    window inside one pandas UDF instead of an interpreted ``transform()``
    fold per row (the measured interpreted-HOF cost class; same hex-min
    result bit-for-bit — md5 of the UTF-8 bytes of each char window)."""
    import hashlib

    import pandas as pd

    # NOTE (r7): a hash-distinct-windows-first variant (the
    # token_hashes_pd factorize move) was tried and REVERTED — char
    # windows over ordinary documents are mostly DISTINCT (unlike tokens
    # or near-dup shingles), so the factorize + digest-rank machinery
    # only added overhead (measured 1.1s → 3.4s at sf1.0).
    @F.pandas_udf("string")
    def _mh(s: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        out = []
        for t in s:
            if t is None:  # NULL text → NULL fp (expr/oracle parity)
                out.append(None)
                continue
            n = max(1, len(t) - window + 1)
            out.append(
                min(md5(t[i : i + window].encode("utf-8")).hexdigest() for i in range(n))
            )
        return pd.Series(out)

    return _mh(text)


def char_minhash_sql(text_sql: str, window: int = 8) -> str:
    n = f"greatest(1, length({text_sql}) - {window - 1})"
    return (
        f"list_min(list_transform(range(0, {n}), "
        f"i -> md5(substr({text_sql}, i + 1, {window}))))"
    )


# ---------------------------------------------------------------------------
# winnowing (Schleimer/Wilkerson/Aiken local fingerprinting)
# ---------------------------------------------------------------------------

# Karp-Rabin polynomial over the Mersenne prime 2^31-1: gram hash of k code
# points = (Σ_j code[i+j] · B^j) mod M.  code < 2^21, B^j mod M < 2^31 ⇒
# each product < 2^52 and the k-term sum < 2^55 — exact in int64/BIGINT on
# both engines, so Spark (numpy) and DuckDB (list_transform) agree bit-wise.
_WINNOW_BASE = 1000003
_WINNOW_MOD = (1 << 31) - 1


def _winnow_pows(k: int):
    out, p = [], 1
    for _ in range(k):
        out.append(p)
        p = (p * _WINNOW_BASE) % _WINNOW_MOD
    return out


def winnow_fingerprint(text: Column, k: int = 5, w: int = 4) -> Column:
    """TRUE winnowing fingerprint (array<long>): hash every ``k``-char gram
    (Karp-Rabin polynomial), slide a window of ``w`` consecutive gram
    hashes, keep each window's MINIMUM, and emit the sorted distinct set of
    selected minima.  Guarantees every match of length ≥ w+k-1 shares a
    fingerprint — the position-robust partial-overlap property the global
    min-hash (:func:`char_minhash`) lacks.

    Arrow-batched numpy: code points via utf-32 reinterpret (no per-char
    Python), k vectorized multiply-adds for the gram hashes, one strided
    sliding-window min — map-only, linear scale-out.  Texts shorter than
    ``k`` pad with code 0 to one whole-text gram (the DuckDB twin's
    ``greatest(unicode(..), 0)`` out-of-range rule)."""
    pows = np.asarray(_winnow_pows(k), dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _winnow(col: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        out = []
        for t in col:
            if t is None:
                out.append(None)
                continue
            codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(np.int64)
            if len(codes) < k:
                codes = np.pad(codes, (0, k - len(codes)))
            n_g = len(codes) - k + 1
            acc = np.zeros(n_g, dtype=np.int64)
            for j in range(k):
                acc += codes[j : j + n_g] * pows[j]
            grams = acc % _WINNOW_MOD
            if n_g <= w:
                minima = grams.min(keepdims=True)
            else:
                minima = sliding_window_view(grams, w).min(axis=1)
            out.append(np.unique(minima))
        return pd.Series(out, dtype=object)

    return _winnow(text)


def winnow_fingerprint_sql(text_sql: str, k: int = 5, w: int = 4) -> str:
    """DuckDB twin of :func:`winnow_fingerprint` — identical integer
    arithmetic spelled with list comprehension primitives."""
    pows = _winnow_pows(k)
    codes = (
        f"list_transform(range(1, greatest(length({text_sql}), {k}) + 1), "
        f"i -> CAST(greatest(unicode(substr({text_sql}, CAST(i AS INTEGER), 1)), 0) AS BIGINT))"
    )
    n_g = f"(greatest(length({text_sql}), {k}) - {k - 1})"
    gram_terms = " + ".join(f"cs[i + {j + 1}] * {pows[j]}" for j in range(k))
    # one CTE-free nested spelling: grams from codes, minima from grams
    grams = f"list_transform(range(0, {n_g}), i -> ({gram_terms}) % {_WINNOW_MOD})"
    # bind codes once via a lambda application (list_transform over a
    # 1-element list) so the codes list is not recomputed per gram
    minima = (
        f"list_transform(range(0, greatest({n_g} - {w - 1}, 1)), "
        f"x -> list_min(gs[x + 1 : x + {w}]))"
    )
    return (
        f"(SELECT list_sort(list_distinct({minima})) "
        f"FROM (SELECT {grams} AS gs FROM (SELECT {codes} AS cs)))"
    )


def repetition_metrics(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Intra-document repetition (Gopher-style repetitious-text filter):
    the fraction of duplicate word n-grams inside each doc.  Boilerplate
    and generator loops repeat themselves; natural prose mostly doesn't.
    One codegen'd projection: dup_frac = 1 - distinct/total (int/int
    division — bit-identical across engines)."""
    from .dedup import word_shingles

    grams = word_shingles(F.col(text_col), n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return docs.select(
        F.col(id_col),
        total.alias("n_ngrams"),
        distinct.alias("n_distinct"),
        (F.lit(1) - distinct / total).alias("dup_frac"),
    )


def repetition_metrics_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> str:
    from .dedup import word_shingles_sql

    grams = word_shingles_sql(text_col, n)
    return f"""
SELECT {id_col},
       len({grams}) AS n_ngrams,
       len(list_distinct({grams})) AS n_distinct,
       (1 - len(list_distinct({grams})) / len({grams})) AS dup_frac
FROM {table}
"""
