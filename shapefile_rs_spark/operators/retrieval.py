"""Lexical retrieval over the documents table — BM25 top-k with an
engine-exact arithmetic contract.

The repo's oracle gate hashes values, so a retrieval score must be
BIT-IDENTICAL between Spark and DuckDB.  Two moves make BM25 exact:

* **No libm anywhere.**  The classic BM25 idf is ln((N−df+0.5)/(df+0.5)+1);
  ln is the one operation IEEE does NOT guarantee identical across math
  libraries (JVM vs DuckDB's libm).  This operator uses the RATIONAL idf
  surrogate idf = (N−df+0.5)/(df+0.5) — the same monotone document-rarity
  signal without the log damping (documented deviation; the log variant
  would have to fall back to rank-only output, the trig-query convention
  in CLAUDE.md).  Every remaining operation is +,−,×,÷,floor — all
  correctly rounded by IEEE-754, so identical operand trees give
  identical doubles in any engine.
* **Quantize per (doc, term), sum in int64.**  Float sums are
  order-dependent; int64 sums commute.  Each term's contribution floors
  to micro-units (×10⁶) BEFORE the per-doc sum, so partial aggregation,
  AQE, and DuckDB's serial plan all agree exactly.  A zero-tf term
  contributes exactly 0 (0 numerator, positive denominator) — no
  presence filter needed.

Term frequency is counted with a codegen-only string trick (no HOF
lambdas — interpreted, the CLAUDE.md hazard; no regex lookbehind — RE2
lacks it): normalize whitespace runs to single spaces, DOUBLE every
space, pad the ends; now every token is flanked by its own private
spaces, so non-overlapping replace() of " term " removes every
occurrence and the length delta divided by len(term)+2 is the exact
count.  Document length reuses token_count's whitespace spelling.

Scale shape: pass 1 is ONE corpus scan aggregating (N, Σdl, df per
term) — a 1-row control frame collected to the driver, which also
sidesteps the scalar-aggregate re-scan trap
(CLAUDE.md: referencing an aggregation subtree twice re-plans and
re-scans the corpus).  Pass 2 is ONE map-only scoring scan with the
stats baked in as literals, finished by TakeOrderedAndProject —
Spark's distributed partial top-k, no global sort, no window over the
corpus.  At 100 TB the pass-1 stats are a tiny per-corpus artifact a
pipeline would commit once (the lineage-stage move incr_neardup makes
for signatures) and reuse across query sets.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TERM_RE = re.compile(r"[a-z0-9]+\Z")


def _ws_pattern(engine: str) -> str:
    """The literal ``\\s+`` as each engine's SQL parser expects it: Spark
    escape-processes string literals (needs a doubled backslash in the
    SQL text), DuckDB takes them verbatim — verified empirically, the
    silent difference would make the Spark pattern match 's+'."""
    return "\\\\s+" if engine == "spark" else "\\s+"


def _tokens_expr(text_col: str, engine: str) -> str:
    """Whitespace tokens of lower(trim(text)) — THE canonical token
    spelling, one definition for both engines (token_count/lm/tfidf all
    read it; a drifted copy would break the bit-exact oracle gate)."""
    if engine == "spark":
        return f"split(trim(lower({text_col})), '{_ws_pattern('spark')}')"
    return f"string_split_regex(trim(lower({text_col})), '{_ws_pattern('duckdb')}')"


def _padded_expr(text_col: str, engine: str) -> str:
    """SQL for the doubled-space padded form of ``text_col``."""
    return (
        f"concat(' ', replace(regexp_replace(trim(lower({text_col})), "
        f"'{_ws_pattern(engine)}', ' '), ' ', '  '), ' ')"
    )


def _tf_expr(padded: str, term: str, div: str) -> str:
    """Exact occurrence count of ``term`` as a whitespace token: every
    token in the doubled-space form is flanked by its own spaces, so
    non-overlapping replace() removes every occurrence."""
    needle = f" {term} "
    return (
        f"((length({padded}) - length(replace({padded}, '{needle}', ''))) "
        f"{div} {len(needle)})"
    )


def _dl_expr(text_col: str, engine: str) -> str:
    """Whitespace token count — token_count's ws spelling per engine."""
    if engine == "spark":
        return f"size(split(trim({text_col}), '{_ws_pattern('spark')}'))"
    return f"len(string_split_regex(trim({text_col}), '{_ws_pattern('duckdb')}'))"


def _dlit(x: float) -> str:
    """A float literal both engines read as the IDENTICAL double: bare
    decimal literals parse as DECIMAL in Spark AND DuckDB (the CLAUDE.md
    hazard); a string→DOUBLE cast is correctly rounded in both, and
    repr() is the shortest round-trip spelling."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _contrib_tree(tf: str, dl: str, idf: str, k1: float, b: float, avgdl: str) -> str:
    """The per-(doc, term) BM25 contribution in micro-units — ONE operand
    tree rendered for both engines (idf/avgdl arrive as engine-side
    sub-expressions producing identical doubles); every op is IEEE-exact."""
    return (
        f"CAST(FLOOR((({idf}) * ((CAST({tf} AS DOUBLE) * {_dlit(k1 + 1.0)}) / "
        f"(CAST({tf} AS DOUBLE) + ({_dlit(k1)} * ({_dlit(1.0 - b)} + "
        f"({_dlit(b)} * (CAST({dl} AS DOUBLE) / ({avgdl}))))))))"
        f" * {_dlit(1000000.0)}) AS BIGINT)"
    )


def _check_terms(terms: Sequence[str]) -> list[str]:
    terms = list(terms)
    if not terms or len(set(terms)) != len(terms):
        raise ValueError(f"terms must be non-empty and distinct: {terms}")
    for t in terms:
        if not _TERM_RE.match(t):
            raise ValueError(f"term {t!r} is not a lowercase [a-z0-9]+ token")
    return terms


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score_micro, rnk): exact BM25 top-k for the term-AND-OR
    query ``terms`` (docs matching any term score; ties → lower id)."""
    terms = _check_terms(terms)
    padded = _padded_expr(text_col, "spark")
    stats_cols = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.expr(_dl_expr(text_col, "spark")).cast("long")).alias("_dl"),
    ]
    for i, t in enumerate(terms):
        tf = _tf_expr(padded, t, "DIV")
        stats_cols.append(
            F.sum(F.expr(f"CASE WHEN {tf} > 0 THEN 1 ELSE 0 END").cast("long")).alias(
                f"_df{i}"
            )
        )
    st = docs.agg(*stats_cols).collect()[0]  # 1-row control frame
    n = int(st["_n"])
    if n == 0:
        raise ValueError("bm25_topk over an empty corpus")
    total_dl = int(st["_dl"])
    avgdl = total_dl / n  # IEEE division — identical in SQL
    contribs = []
    for i, t in enumerate(terms):
        idf = (n - int(st[f"_df{i}"]) + 0.5) / (int(st[f"_df{i}"]) + 0.5)
        contribs.append(
            _contrib_tree(
                _tf_expr(padded, t, "DIV"),
                _dl_expr(text_col, "spark"),
                _dlit(idf), k1, b, _dlit(avgdl),
            )
        )
    scored = docs.select(
        F.col(id_col), F.expr(" + ".join(contribs)).alias("score_micro")
    )
    top = scored.orderBy(F.col("score_micro").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
    return top.withColumn("rnk", F.row_number().over(w))


def bm25_topk_sql(
    docs_sql: str,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin: the stats CTE computes the same (N, Σdl, df) ints,
    idf/avgdl re-derive through the identical IEEE expressions, and the
    contribution tree is the same :func:`_contrib_expr` rendering."""
    terms = _check_terms(terms)
    padded = _padded_expr(text_col, "duckdb")
    dl = _dl_expr(text_col, "duckdb")
    dfs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN {_tf_expr(padded, t, '//')} > 0 THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS df{i}"
        for i, t in enumerate(terms)
    )
    contribs = " + ".join(
        _contrib_sql(_tf_expr(padded, t, "//"), dl, i, k1, b) for i, t in enumerate(terms)
    )
    return f"""
WITH stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({dl}) AS BIGINT) AS total_dl,
         {dfs}
  FROM ({docs_sql}) d
), scored AS (
  SELECT d.{id_col}, {contribs} AS score_micro
  FROM ({docs_sql}) d CROSS JOIN stats s
)
SELECT {id_col}, score_micro,
       ROW_NUMBER() OVER (ORDER BY score_micro DESC, {id_col} ASC) AS rnk
FROM (SELECT * FROM scored ORDER BY score_micro DESC, {id_col} ASC LIMIT {k})
"""


def _contrib_sql(tf: str, dl: str, i: int, k1: float, b: float) -> str:
    """The SQL-side contribution: the SAME :func:`_contrib_tree` but with
    idf/avgdl derived IN SQL from the stats CTE — each a single
    correctly-rounded IEEE op chain over the same integers the Spark side
    collected, so the doubles agree bit-for-bit with the driver-injected
    literals."""
    idf = (
        f"((CAST(s.n AS DOUBLE) - CAST(s.df{i} AS DOUBLE)) + {_dlit(0.5)}) / "
        f"(CAST(s.df{i} AS DOUBLE) + {_dlit(0.5)})"
    )
    avgdl = "CAST(s.total_dl AS DOUBLE) / CAST(s.n AS DOUBLE)"
    return _contrib_tree(tf, dl, idf, k1, b, avgdl)


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    scale: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, tfidf_micro, rnk): each document's top-k keywords
    by exact tf·idf — the keyword-extraction / feature stage of a
    retrieval index build, under the module's engine-exact contract.

    idf is the same rational document-rarity surrogate bm25 uses
    ((N−df+0.5)/(df+0.5), no libm); tf·idf floors to int64 micro-units
    through ONE multiply+divide IEEE tree, so ranks and scores are
    bit-identical in any engine.  Ties → lexicographically smaller term.

    Scale shape: one corpus tokenize scan into the (doc, term, tf)
    frame (eager localCheckpoint — BOTH the df aggregation and the
    scoring join read it; lazy reuse would re-scan the corpus), one
    term-keyed exchange for df, one term-keyed join back, one doc-keyed
    rank window with WindowGroupLimit pushdown.  No N×V cross join, no
    driver-side vocab."""
    dt = (
        docs.select(
            F.col(id_col),
            F.explode(F.expr(_tokens_expr(text_col, "spark"))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    n = docs.count()
    if n == 0:
        raise ValueError("tfidf_topk over an empty corpus")
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (
        f"(({_dlit(float(n))} - CAST(df AS DOUBLE)) + {_dlit(0.5)}) / "
        f"(CAST(df AS DOUBLE) + {_dlit(0.5)})"
    )
    scored = dt.join(dfreq, "term").select(
        id_col,
        "term",
        F.expr(
            f"CAST(FLOOR((CAST(tf AS DOUBLE) * ({idf})) * {_dlit(float(scale))}) "
            "AS BIGINT)"
        ).alias("tfidf_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tfidf_micro", "rnk")
    )


def tfidf_topk_sql(
    docs_table: str = "documents",
    k: int = 3,
    scale: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`tfidf_topk` — N derives in SQL (CAST of the
    same integer is the same double below 2^53), everything else is the
    identical operand tree."""
    idf = (
        f"((CAST((SELECT n FROM nn) AS DOUBLE) - CAST(df AS DOUBLE)) + {_dlit(0.5)}) / "
        f"(CAST(df AS DOUBLE) + {_dlit(0.5)})"
    )
    return f"""
WITH dt AS (
  SELECT {id_col}, u.w AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT {id_col}, {_tokens_expr(text_col, "duckdb")} AS t
        FROM {docs_table}),
       UNNEST(t) AS u(w)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {docs_table}),
scored AS (
  SELECT dt.{id_col}, dt.term,
         CAST(FLOOR((CAST(dt.tf AS DOUBLE) * ({idf})) * {_dlit(float(scale))})
              AS BIGINT) AS tfidf_micro
  FROM dt JOIN dfreq USING (term)
)
SELECT {id_col}, term, tfidf_micro, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {id_col}
              ORDER BY tfidf_micro DESC, term ASC) AS rnk
  FROM scored
) WHERE rnk <= {k}
"""
