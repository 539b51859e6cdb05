"""Scalar text functions (SURVEY.md §2.7) — pure Catalyst expressions,
whole-stage-codegen friendly; no UDFs."""

from __future__ import annotations

import pyspark.sql.functions as F

# Priority-ordered regex ladder (≈ RE_DMS / RE_DEG / RE_DEGDEC tried in
# order with first-match-wins, /root/reference/tasks/geo_referencing/
# coordinates_extractor.py:28-51,242-307).  Each rung extracts a numeric
# candidate from the turn text; the DMS-style combiner turns two captured
# parts into one decimal value (deg + min/60,
# coordinates_extractor.py:169-214).
RE_KV = r'"k":\s*(\d+)'
RE_TURN = r"turn (\d+)"
RE_ANYNUM = r"(\d+)"


def _rung(col: F.Column, pattern: str, group: int = 1) -> F.Column:
    # Spark regexp_extract returns '' on no match; normalize to NULL so the
    # ladder coalesces (DuckDB twin uses nullif the same way).
    return F.nullif(F.regexp_extract(col, pattern, group), F.lit(""))


def extract_ladder(text: F.Column) -> F.Column:
    """First-match-wins numeric extraction ladder -> decimal value."""
    kv = _rung(text, RE_KV).cast("double")
    turn = _rung(text, RE_TURN).cast("double")
    anynum = _rung(text, RE_ANYNUM).cast("double")
    # DMS-style combine: when BOTH parts matched, value = kv + turn/60
    return F.round(
        F.when(kv.isNotNull() & turn.isNotNull(), kv + turn / 60.0)
        .when(kv.isNotNull(), kv)
        .when(turn.isNotNull(), turn)
        .otherwise(anynum),
        6,
    )


def normalize_text(text: F.Column) -> F.Column:
    """Normalization before feature extraction (≈ scale/quadrangle
    normalization, scale_analyzer.py:97-119 and
    metadata_extraction.py:919-933: strip punctuation, case-insensitive
    token removal)."""
    cleaned = F.regexp_replace(text, r"(?i)\bturn\b", "")
    cleaned = F.regexp_replace(cleaned, r"[^\w\s]", "")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))
