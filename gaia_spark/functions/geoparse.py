"""Geoparsing: extract (lat, lon) point geometries from page text.

Realizes the north-star requirement ("lat/lon extracted from text,
byte-identical extracted text per url") with the FROZEN grammar v1 from
FIXTURES.md §2. The grammar is a contract: the ``extracted`` column must be
a pure function of ``text`` — never change the pattern; the golden hash in
tests/goldens pins it. Extraction runs entirely in the JVM
(``GEOPARSE_PATTERN_JVM``); the Python-``re`` and RE2 spellings of the same
grammar are kept as differential references for test_geoparse.

Reference role: the point-layer ingestion the reference does via fiona/
GeoPandas (``[R] gaia/geo/geo_inputs.py :: VectorFileIO``) — here points are
born from web text instead of GeoJSON.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# FROZEN v1 — FIXTURES.md §2. Group 1 = whole match, 2 = lat, 3 = lon.
GEOPARSE_PATTERN_V1 = (
    r"(?<![0-9A-Za-z.(-])"
    r"((-?(?:90(?:\.0{1,6})?|[0-8]?[0-9]\.[0-9]{1,6}))"
    r"\s*,\s*"
    r"(-?(?:180(?:\.0{1,6})?|(?:1[0-7][0-9]|[0-9]{1,2})\.[0-9]{1,6})))"
    r"(?![0-9.])"
)

# JVM (java.util.regex) form of the grammar for the pure-JVM extraction
# path: identical to v1 EXCEPT that \s is spelled as the explicit ASCII
# class [\t\n\f\r ] — java's \s ([ \t\n\x0B\f\r]) and python's \s (full
# unicode whitespace) both differ from RE2's \s ([\t\n\f\r ]), and the
# RE2 reading is the one the production path has exercised against the
# oracle fingerprints, so the JVM pattern pins THAT class explicitly.
# Lookarounds are kept verbatim (java supports them); leftmost-first
# alternation preference is shared by python re, java regex, and RE2, so
# the three engines agree on every string whose separator whitespace is
# drawn from the shared ASCII class (pinned by
# test_jvm_pattern_equivalent_to_re2's corpus, which includes the
# DISAGREEING characters \v, \x1c, \xa0,  , \x85 as adversaries).
GEOPARSE_PATTERN_JVM = (
    r"(?<![0-9A-Za-z.(-])"
    r"((-?(?:90(?:\.0{1,6})?|[0-8]?[0-9]\.[0-9]{1,6}))"
    r"[\t\n\f\r ]*,[\t\n\f\r ]*"
    r"(-?(?:180(?:\.0{1,6})?|(?:1[0-7][0-9]|[0-9]{1,2})\.[0-9]{1,6})))"
    r"(?![0-9.])"
)

# RE2 form of the FROZEN v1 grammar (pyarrow's regex engine; RE2 supports
# no lookarounds) — the differential reference the JVM pattern is checked
# against in test_geoparse. Provably match-equivalent to
# GEOPARSE_PATTERN_V1 under leftmost-first search:
#  - the negative lookbehind becomes a CONSUMED one-char prefix
#    ``(?:^|[^0-9A-Za-z.(-])`` — a body match at position p exists iff
#    p == 0 (the ^ branch) or text[p-1] is outside the class (the consumed
#    branch), exactly the lookbehind's condition, and leftmost-first over
#    start positions q = max(0, p-1) preserves first-match order;
#  - the negative lookahead becomes ``(?:[^0-9.]|\z)`` — same quantifier
#    backtracking semantics (RE2 implements Perl-style leftmost-first for
#    this syntax), \z = end-of-text (NOT Python's $, which also matches
#    before a trailing newline — the original used a lookahead, not $).
# Byte-equivalence is pinned by test_geoparse's differential corpus.
GEOPARSE_PATTERN_RE2 = (
    r"(?:^|[^0-9A-Za-z.(-])"
    r"(?P<m>(?P<lat>-?(?:90(?:\.0{1,6})?|[0-8]?[0-9]\.[0-9]{1,6}))"
    r"\s*,\s*"
    r"(?P<lon>-?(?:180(?:\.0{1,6})?|(?:1[0-7][0-9]|[0-9]{1,2})\.[0-9]{1,6})))"
    r"(?:[^0-9.]|\z)"
)


def geoparse(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``extracted``, ``lat``, ``lon`` columns to a pages DataFrame.

    NULL-safe: rows without coordinates keep NULLs (excluded from spatial
    ops downstream by ``lat IS NOT NULL``). Raises ``ValueError`` when
    ``df`` already has a ``_geo_m`` column (the internal scratch column
    would otherwise overwrite and then drop it).

    Extraction runs fully JVM-side (``regexp_extract`` with the grammar's
    lookarounds, which java regex supports natively): one big-regex pass
    over ``text`` plus two anchored micro-extracts over the ≤25-char
    match — no Python worker, no Arrow transfer of the text column, and
    no JVM rlike prefilter pass (the full regex IS the scan). The
    ``when(spark_partition_id() >= 0, …)`` barrier (always true;
    spark_partition_id() because streaming DataFrames reject
    monotonically_increasing_id() and Spark 4 constant-folds rand()
    range comparisons, un-wrapping the when()) marks the big extract
    nondeterministic so Catalyst neither duplicates it into
    the lat/lon projections (CollapseProject refuses to inline
    nondeterministic aliases) nor re-evaluates it under a pushed filter
    — the same single-evaluation guarantee ``asNondeterministic()`` gives
    a UDF. test_geoparse pins the JVM pattern match-equivalent to the RE2
    and Python spellings above.
    """
    if "_geo_m" in df.columns:
        raise ValueError("input already has a '_geo_m' column - rename it before geoparse")
    big = F.regexp_extract(F.col(text_col), GEOPARSE_PATTERN_JVM, 1)
    # _m carries the ONLY textual occurrence of the big pattern (nullif
    # would expand it twice inside one CASE — correct but reliant on
    # codegen subexpression elimination; this form does not rely on it)
    ext = F.nullif(F.col("_geo_m"), F.lit(""))
    return (
        df.withColumn("_geo_m", F.when(F.expr("spark_partition_id() >= 0"), big))
        .withColumn("extracted", ext)
        .withColumn(
            "lat",
            F.regexp_extract(F.col("extracted"), r"^-?[0-9]+(?:\.[0-9]+)?", 0).cast(
                "double"
            ),
        )
        .withColumn(
            "lon",
            F.regexp_extract(F.col("extracted"), r"-?[0-9]+(?:\.[0-9]+)?$", 0).cast(
                "double"
            ),
        )
        .drop("_geo_m")
    )
