"""JVM-side Column expressions for the reference's scalar functions.

These mirror refmap string functions with pure pyspark.sql.functions so the
relational portions of a plan stay inside whole-stage codegen (SURVEY.md
§2.7). The pandas-UDF equivalents in refmap are the oracle; tests assert the
two agree on the test corpus.

Citations: slugify uuid_planner.py:26-27, normalize_key uuid_planner.py:82-83,
tokenize uuid_planner.py:86-89, qualify uuid_planner.py:130-133,
local name case_uco.py:159-165, xsd inference custom_facet.py:112-119.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def slugify_col(col: Column) -> Column:
    """" "→"_", "-"→"_", lower — JVM translate+lower."""
    return F.lower(F.translate(col, " -", "__"))


def normalize_key_col(col: Column) -> Column:
    """re.sub(r"[^a-z0-9]+","_", lower).strip("_")"""
    lowered = F.lower(col)
    collapsed = F.regexp_replace(lowered, "[^a-z0-9]+", "_")
    return F.regexp_replace(collapsed, "^_+|_+$", "")


def tokenize_col(col: Column) -> Column:
    """camelCase split + separators → array<string> of lowercase tokens."""
    spaced = F.regexp_replace(col, "([a-z0-9])([A-Z])", r"$1 $2")
    spaced = F.translate(spaced, "_-:", "   ")
    return F.filter(F.split(F.lower(spaced), " +"), lambda t: t != "")


def qualify_property_col(col: Column) -> Column:
    """Prefix uco-observable: unless already qualified."""
    return F.when(col.contains(":"), col).otherwise(
        F.concat(F.lit("uco-observable:"), col)
    )


def local_name_col(col: Column) -> Column:
    """URI → local name: split on '#' else '/' (substring_index)."""
    return F.when(
        col.contains("#"), F.substring_index(col, "#", -1)
    ).otherwise(F.substring_index(col, "/", -1))
