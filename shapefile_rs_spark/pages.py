"""Common-Crawl-style page table (BASELINE.json input_hint) + extraction.

Schema: ``(url string, warc_ts timestamp, html binary, text string,
lang string)``.  Pages are derived deterministically from the driver's
``documents`` parquet (doc_id is the seed — FIXTURES.md §1) so the DuckDB
oracle can recompute every derived value with plain SQL arithmetic:

* ``url``       = ``https://site{doc_id % 1000}.example/page/{doc_id}``
* ``warc_ts``   = ``2025-01-01T00:00:00Z + doc_id * 137 seconds``
* geotag (lat/lon embedded in ``html`` as ``<meta name="geo.position">``):
  80% uniform over the polygon-fixture bbox, 20% zipfian hot clusters
  (``doc_id % 5 == 0``) around three fixed hot centers — plants shuffle skew
  so cell-level salting is exercised (SURVEY §7 risk list);
* ``text``      = the document text verbatim; **byte-identical ``text`` per
  ``url`` after html round-trip is the cross-engine invariant**.

Hot-path design (100 TB story): html synthesis AND geotag extraction are
pure Catalyst expressions (concat/cast/regexp_extract inside whole-stage
codegen) — zero Python in the per-page path.  Bit-exactness holds because
``CAST(double AS STRING)`` emits Java's shortest round-trip decimal and both
``CAST(string AS DOUBLE)`` (JVM) and numpy/pandas strtod are correctly
rounded, so parse(format(x)) == x to the bit on either engine.  The
Arrow-vectorized pandas UDF extractors (:func:`extract_text`,
:func:`extract_geo`) remain as the library surface for html that did NOT
come from this synthesizer (real WARC payloads), and tests pin both paths
to identical bits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from .session import widen


def lonlat_sql(id_col: str = "doc_id") -> tuple:
    """(lon_sql, lat_sql) — the EXACT arithmetic the engine replicates;
    valid in both Spark SQL and DuckDB.  Every literal is CAST AS DOUBLE:
    DuckDB parses bare decimal literals as DECIMAL and would otherwise run
    the whole derivation in exact decimal arithmetic — not the IEEE doubles
    the engine computes with."""

    def d(x: str) -> str:
        return f"CAST({x} AS DOUBLE)"

    hot_lon = (
        f"CASE {id_col} % 3 WHEN 0 THEN {d('2.0')} WHEN 1 THEN {d('8.0')} ELSE {d('25.0')} END"
        f" + ({id_col} % 97) * {d('0.0002')}"
    )
    hot_lat = (
        f"CASE {id_col} % 3 WHEN 0 THEN {d('2.0')} WHEN 1 THEN {d('8.0')} ELSE {d('5.0')} END"
        f" + ({id_col} % 89) * {d('0.0002')}"
    )
    lon = f"CASE WHEN {id_col} % 5 = 0 THEN {hot_lon} ELSE ({id_col} % 4000) * {d('0.01')} END"
    lat = (
        f"CASE WHEN {id_col} % 5 = 0 THEN {hot_lat} "
        f"ELSE (CAST(FLOOR({id_col} / 7) AS BIGINT) % 2000) * {d('0.01')} END"
    )
    return lon, lat


def lonlat_numpy(doc_id: np.ndarray) -> tuple:
    """Vectorized replica of :func:`lonlat_sql` (same op order ⇒ same bits)."""
    doc_id = np.asarray(doc_id, dtype=np.int64)
    mod3 = doc_id % 3
    hot_lon = np.where(mod3 == 0, 2.0, np.where(mod3 == 1, 8.0, 25.0)) + (doc_id % 97) * 0.0002
    hot_lat = np.where(mod3 == 0, 2.0, np.where(mod3 == 1, 8.0, 5.0)) + (doc_id % 89) * 0.0002
    cold_lon = (doc_id % 4000) * 0.01
    cold_lat = (np.floor(doc_id / 7).astype(np.int64) % 2000) * 0.01
    hot = doc_id % 5 == 0
    return np.where(hot, hot_lon, cold_lon), np.where(hot, hot_lat, cold_lat)


# -- html synthesis (pure Catalyst — codegen'd, no Python) -------------------


def html_expr(lon: Column, lat: Column, text: Column) -> Column:
    """Deterministic page html as a JVM expression.  The geo tag serializes
    (lat, lon) via CAST→STRING (shortest round-trip decimal) so extraction
    recovers the exact doubles."""
    return F.encode(
        F.concat(
            F.lit('<html><head><meta name="geo.position" content="'),
            lat.cast("string"),
            F.lit(";"),
            lon.cast("string"),
            F.lit('"><meta charset="utf-8"></head><body>'),
            text,
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )


def _url_expr(doc_id: Column) -> Column:
    return F.concat(
        F.lit("https://site"),
        (doc_id % 1000).cast("string"),
        F.lit(".example/page/"),
        doc_id.cast("string"),
    )


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → the canonical page table (input_hint schema).
    Single narrow select — no shuffle, no Python."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lon_sql, lat_sql = lonlat_sql("doc_id")
    return docs.select(
        _url_expr(F.col("doc_id")).alias("url"),
        (
            F.lit("2025-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("doc_id") * 137)
        ).alias("warc_ts"),
        html_expr(F.expr(lon_sql), F.expr(lat_sql), F.col("text")).alias("html"),
        "text",
        "lang",
        "doc_id",
    )


def synth_pages_from_ids(ids: DataFrame, id_col: str = "page_id") -> DataFrame:
    """Any BIGINT id column → a full deterministic page table (bench-scale
    mass: e.g. 600k lineitem keys at sf0.1, 10^12 ids on a real cluster).
    Same derivation rules as :func:`pages_from_documents`, text derived from
    the id so byte-identity stays checkable.  Pure Catalyst expressions —
    the synthesizer itself never leaves whole-stage codegen.

    The ids pass through :func:`~shapefile_rs_spark.session.widen` BEFORE
    the synth projection, so a narrow id frame shuffles only its 8-byte
    ids and the sha1/concat-heavy synth uses every core."""
    ids = widen(ids)
    doc_id = F.col(id_col).cast("long")
    text = F.concat(
        F.lit("page "),
        doc_id.cast("string"),
        F.lit(" body "),
        F.sha1(F.encode(F.concat(F.lit("salt:"), doc_id.cast("string")), "UTF-8")),
    )
    lon_sql, lat_sql = lonlat_sql("_did")
    return ids.select(
        doc_id.alias("_did"), text.alias("text")
    ).select(
        _url_expr(F.col("_did")).alias("url"),
        (
            F.lit("2025-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=(F.col("_did") % 31536000) * 1.0)
        ).alias("warc_ts"),
        html_expr(F.expr(lon_sql), F.expr(lat_sql), F.col("text")).alias("html"),
        "text",
        (
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("zh"), F.lit("es")),
                (F.col("_did") % 5 + 1).cast("int"),
            )
        ).alias("lang"),
        F.col("_did").alias("doc_id"),
    )


# -- extraction (html bytes → text / geotag) ---------------------------------

_GEO_RE = r'<meta name="geo\.position" content="([^";]+);([^"]+)"'
# single-group twin for the fused one-regex parse in geotag_pages: the
# group is exactly group1 + ';' + group2 of _GEO_RE (same charsets, same
# ≥1-char requirements), so the first match site is identical
_GEO_PAIR_RE = r'<meta name="geo\.position" content="([^";]+;[^"]+)"'
_TEXT_RE_CORE = r"<body>(.*)</body>"


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Body text from html bytes (null when no body tag): the library
    surface for externally-sourced WARC html."""
    import re

    s = html.apply(lambda b: None if b is None else bytes(b).decode("utf-8", "strict"))
    return s.str.extract(_TEXT_RE_CORE, flags=re.DOTALL, expand=False)


_GEO_SCHEMA = StructType([StructField("lat", DoubleType()), StructField("lon", DoubleType())])


@F.pandas_udf(_GEO_SCHEMA)
def extract_geo(html: pd.Series) -> pd.DataFrame:
    """(lat, lon) parsed from the html geo tag; nulls when it is absent."""
    s = html.apply(lambda b: None if b is None else bytes(b).decode("utf-8", "replace"))
    ext = s.str.extract(_GEO_RE)

    def parse(col: pd.Series) -> pd.Series:
        # .astype is bit-exact (strtod); pd.to_numeric's fast path is NOT
        # (xstrtod loses ulps on long decimals) — only fall back to it when
        # a malformed tag makes astype throw.
        try:
            return col.astype("float64")
        except (ValueError, TypeError):
            return pd.to_numeric(col, errors="coerce")

    return pd.DataFrame({"lat": parse(ext[0]), "lon": parse(ext[1])})


def geotag_pages(pages: DataFrame, use_arrow_udf: bool = False) -> DataFrame:
    """pages → + (lat, lon) parsed from the html geo tag.

    Default path is pure Catalyst (regexp_extract + cast in codegen); the
    Arrow-UDF path computes the identical bits (pinned by tests) and exists
    for html needing real parser logic beyond a regex."""
    if use_arrow_udf:
        tagged = pages.withColumn("_geo", extract_geo(F.col("html")))
        return (
            tagged.withColumn("lat", F.col("_geo.lat"))
            .withColumn("lon", F.col("_geo.lon"))
            .drop("_geo")
        )
    # ONE decode + ONE regex + one split per row: a two-column
    # regexp_extract spelling evaluates decode(html) and the regex
    # twice (Catalyst does not CSE across projection columns — measured
    # ~2x the parse stage on the 6M-page flagship).  The combined group
    # ([^";]+;[^"]+) is exactly group1 + ';' + group2 of _GEO_RE, so
    # match positions and extracted strings are identical; F.get is the
    # ANSI-safe out-of-range→NULL element access.
    pair = F.nullif(
        F.regexp_extract(F.decode(F.col("html"), "UTF-8"), _GEO_PAIR_RE, 1),
        F.lit(""),
    )
    tagged = pages.withColumn("_geo_parts", F.split(pair, ";", 2))
    return (
        tagged.withColumn(
            "lat", F.nullif(F.get("_geo_parts", F.lit(0)), F.lit("")).cast("double")
        )
        .withColumn("lon", F.get("_geo_parts", F.lit(1)).cast("double"))
        .drop("_geo_parts")
    )
