"""Arrow-batched pandas UDFs — the ONLY Python in the hot path.

Each UDF wraps a refmap pure function so the cluster path and the pytest
oracle share one implementation (byte-identical per BASELINE.md). No
row-at-a-time Python UDFs anywhere (BASELINE.json input_hint: "no per-row
Python" = no RDD map, no F.udf).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..refmap.extract import extract_text, render_html


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html binary → extracted text; byte-identical to the pytest oracle
    because the body IS refmap.extract.extract_text.

    Null-html policy (pinned): null html → EMPTY STRING, matching the fused
    kernel (plans/pipeline._page_record) so staged and fused paths produce
    identical fingerprints on pages with no body
    (test_fused_equals_staged covers a null-html row)."""
    return html.map(lambda b: extract_text(b) if b is not None else "")


@F.pandas_udf(T.BinaryType())
def render_html_udf(text: pd.Series, title: pd.Series, lang: pd.Series) -> pd.Series:
    """Deterministic synthetic page renderer (corpus build)."""
    out = []
    for t, ti, lg in zip(text, title, lang):
        out.append(render_html(t or "", ti or "", lg or "en") if t is not None else None)
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def sha256_utf8_udf(s: pd.Series) -> pd.Series:
    """sha256 hexdigest of a utf-8 string column (matches DuckDB sha256)."""
    return s.map(
        lambda v: hashlib.sha256(v.encode("utf-8")).hexdigest() if v is not None else None
    )

