"""Deterministic cross-engine text primitives.

Everything downstream of these (MinHash, SimHash, fingerprints in
operators/dedup.py and functions/text.py) must hash identically in
Spark and in the DuckDB oracle, so the inputs they hash — character
shingles and the canonical text form — are defined once here.

All pure column expressions — JVM-side, codegen-friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_shingles(col: Column, n: int) -> Column:
    """Distinct character n-grams; a string shorter than n yields
    itself as its only shingle."""
    idx = F.sequence(F.lit(0), F.greatest(F.length(col) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(col, i + 1, n)))


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace
    collapsed, trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


NORMALIZED_TEXT_SQL = "trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"
