"""Deterministic synthetic web corpus in the BASELINE.json input_hint shape:
(url string, warc_ts timestamp, html binary, text string, lang string).

Derived 1:1 from the driver's documents.parquet (doc_id, text, lang, source,
n_chars) — no external data: url/warc_ts are pure functions of doc_id/source,
html is refmap.extract.render_html(text) so the provided ``text`` column IS
the golden extraction target (extract_text(html) == canonical(text)), giving
the byte-identity test its oracle for free at every scale factor.

At 100 TB the equivalent input is an Iceberg/parquet table with the same
five columns; everything downstream reads only the columns it needs so
Parquet column pruning keeps the 'html' bytes out of plans that don't
decode them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import render_html_udf

# Fixed epoch for warc_ts derivation — deterministic, no wall clock.
_WARC_EPOCH = "2025-01-01 00:00:00"


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def web_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → (url, warc_ts, html, text, lang) deterministically.

    url embeds source + doc_id (unique key); warc_ts = epoch + doc_id seconds;
    html = render_html(text). Narrow plan: one projection + one pandas UDF.
    """
    docs = load_documents(spark, sf_dir)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/doc/"),
        F.col("doc_id").cast("string"),
    )
    warc_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(_WARC_EPOCH), "yyyy-MM-dd HH:mm:ss")
        + F.col("doc_id") % 31536000
    )
    title = F.concat(F.lit("doc "), F.col("doc_id").cast("string"))
    return docs.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        render_html_udf(F.col("text"), title, F.col("lang")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
