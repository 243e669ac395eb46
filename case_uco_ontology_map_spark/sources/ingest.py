"""Input normalization: JSON / CSV / free-text payloads → records DataFrame.

Reference semantics (S1/S4, SURVEY.md §2.1):
  * _normalize_input sniffs dict/list JSON vs CSV (comma + newline) vs free
    text (/root/reference/services.py:23-64)
  * CSV rows parse with DictReader and are wrapped
    {artifact_type, description, source, record} (services.py:125-138)
  * record fan-out flattens shared metadata into each record
    (/root/reference/agents/uuid_planner.py:30-66 — refmap.extract_records)

Spark re-expression: in-memory payloads replay the exact reference
sniffing via refmap and land in a createDataFrame of the records shape
consumed by operators.triples.emit_triples.
"""

from __future__ import annotations

import csv
import io
import json
from typing import Any, Dict, List, Tuple

from pyspark.sql import DataFrame, SparkSession

from ..refmap.planner import extract_records


def sniff_payload(data: Any) -> Tuple[str, Any]:
    """Reference's format sniff (services.py:23-64): returns
    (format ∈ {json, csv, text}, parsed payload)."""
    if isinstance(data, (dict, list)):
        return "json", data
    if isinstance(data, str):
        stripped = data.strip()
        if stripped.startswith(("{", "[")):
            try:
                return "json", json.loads(stripped)
            except json.JSONDecodeError:
                pass
        if "," in stripped and "\n" in stripped:
            try:
                reader = csv.DictReader(io.StringIO(stripped), strict=True)
                rows = [dict(r) for r in reader]
                if rows and all(None not in r for r in rows):
                    return "csv", rows
            except csv.Error:
                pass
        return "text", stripped
    return "text", str(data)


def wrap_csv_rows(
    rows: List[Dict[str, str]],
    artifact_type: str = "CSV Import",
    description: str = "Imported CSV evidence",
    source: str = "csv-upload",
) -> Dict[str, Any]:
    """CSV metadata wrap (services.py:125-138) generalized to all rows —
    the reference wraps row0 only; we keep every row as a record."""
    return {
        "artifact_type": artifact_type,
        "description": description,
        "source": source,
        "records": rows,
    }


def payload_to_records_df(
    spark: SparkSession, payload: Any, **csv_meta: str
) -> Tuple[DataFrame, Dict[str, Any]]:
    """Any supported payload → (records DataFrame, shared metadata dict).

    The shared dict is what emit_triples flattens into each record — the
    exact reference fan-out contract, so fingerprints match the pure path.
    """
    fmt, parsed = sniff_payload(payload)
    if fmt == "csv":
        parsed = wrap_csv_rows(parsed, **csv_meta)
    elif fmt == "text":
        parsed = {
            "artifact_type": "Free Text",
            "description": "Unstructured text evidence",
            "source": "text-upload",
            "records": [{"content": parsed}],
        }
    records = extract_records(parsed)
    shared = (
        {k: v for k, v in parsed.items() if k not in ("records", "record")}
        if isinstance(parsed, dict)
        else {}
    )
    rows = [{k: v for k, v in r.items() if k not in shared} for r in records]
    return spark.createDataFrame(rows), shared

