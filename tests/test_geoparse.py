"""Frozen-grammar geoparse tests + golden hash (FIXTURES.md §2)."""

import hashlib
import os
import re

import pyspark.sql.functions as F
import pytest

from gaia_spark.functions.geoparse import GEOPARSE_PATTERN_V1, geoparse
from gaia_spark.synth import synth_pages

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "geoparse_v1.sha256")


def test_grammar_cases():
    pat = re.compile(GEOPARSE_PATTERN_V1)
    ok = {
        "geo: 12.345678,-73.123456": ("12.345678", "-73.123456"),
        "x -33.9, 151.2 y": ("-33.9", "151.2"),
        "90,180": ("90", "180"),
        "a 0.5 , 0.25 b": ("0.5", "0.25"),
    }
    for text, (lat, lon) in ok.items():
        m = pat.search(text)
        assert m, text
        assert m.group(2) == lat and m.group(3) == lon
    for text in ["v1.2,3.4", "price 1234.56,77.1", "91.5,10.0", "no coords here", "(1.5,2.5)"]:
        assert pat.search(text) is None, text


def test_geoparse_pages_and_golden_hash(spark):
    df = geoparse(synth_pages(spark, 1000, partitions=4))
    rows = df.select("url", "extracted", "lat", "lon").orderBy("url").collect()
    assert len(rows) == 1000
    with_coord = [r for r in rows if r.extracted is not None]
    # FIXTURES.md §1: ~80% of rows embed a coordinate
    assert 700 <= len(with_coord) <= 900
    for r in with_coord[:50]:
        assert f"{r.lat:.6f}" in r.extracted or str(r.lat) in r.extracted
        assert -90 <= r.lat <= 90 and -180 <= r.lon <= 180

    # byte-identical invariant: golden-hash extracted per url, pinned forever
    payload = b"\x00".join(
        f"{r.url}\x01{r.extracted if r.extracted is not None else ''}".encode() for r in rows
    )
    digest = hashlib.sha256(payload).hexdigest()
    if os.path.exists(GOLDEN):
        assert open(GOLDEN).read().strip() == digest, (
            "FROZEN geoparse grammar output changed — forbidden by FIXTURES.md §2"
        )
    else:
        with open(GOLDEN, "w") as f:
            f.write(digest + "\n")


def test_geoparse_deterministic_across_partitionings(spark):
    a = geoparse(synth_pages(spark, 300, partitions=1)).select("url", "extracted")
    b = geoparse(synth_pages(spark, 300, partitions=7)).select("url", "extracted")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_geoparse_null_rows_kept(spark):
    df = geoparse(synth_pages(spark, 500, partitions=2))
    n_null = df.where(F.col("lat").isNull()).count()
    assert n_null > 0
    assert df.count() == 500


def test_geoparse_refuses_to_clobber_scratch_column(spark):
    """geoparse's internal ``_geo_m`` column must not silently overwrite
    (and then drop) a user column of the same name."""
    import pytest

    df = spark.createDataFrame([("12.5,45.6", "keep")], "text string, _geo_m string")
    with pytest.raises(ValueError, match="_geo_m"):
        geoparse(df)


def test_re2_pattern_equivalent_to_frozen_v1():
    """The vectorized RE2 implementation pattern must be match-equivalent to
    the FROZEN v1 grammar (lookarounds rewritten as consumed prefix /
    suffix): first-match whole text, lat and lon groups, over an
    adversarial digit/boundary-heavy corpus including newlines and EOS."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from gaia_spark.functions.geoparse import GEOPARSE_PATTERN_RE2

    pat = re.compile(GEOPARSE_PATTERN_V1)
    cases = [
        "12.5,45.6\n", "12.5,45.6\ntail", "a\n12.5,45.6", "12.5,45.6",
        "12.5,45.6.", "12.5,45.67890123", "90,45.6", "90.0,180",
        "90.0000001,45.6", "-90.000000,-180.000000", "(12.5,45.6)",
        "-12.5,45.6", "x-12.5,45.6", ",12.5,45.6", "12.5 ,  45.6 more",
        "12.5,\n45.6", "1.2,3.4 5.6,7.8", "12.3456789,45.6 11.1,22.2",
        "89.9,179.9", "89.9,180.1", "9,9", "0.0,0.0", ".5,.6", "12.,45.",
    ]
    rng = np.random.RandomState(11)
    alpha = ["0", "1", "5", "9", ".", ",", "-", "(", ")", "\n", "\t", " ",
             "a", "Z", "90", "180", ".0", "85.123456", "12.3456789", ",-"]
    cases += ["".join(rng.choice(alpha, size=rng.randint(1, 25)))
              for _ in range(20000)]
    res = pc.extract_regex(pa.array(cases), GEOPARSE_PATTERN_RE2)
    for i, t in enumerate(cases):
        mt = pat.search(t)
        old = (mt.group(1), mt.group(2), mt.group(3)) if mt else None
        if res[i].is_valid:
            v = res[i].as_py()
            new = (v["m"], v["lat"], v["lon"])
        else:
            new = None
        assert old == new, f"pattern divergence on {t!r}: {old!r} vs {new!r}"


def test_jvm_pattern_equivalent_to_re2(spark):
    """The production JVM path (regexp_extract + GEOPARSE_PATTERN_JVM +
    anchored lat/lon micro-extracts) must agree with the vectorized RE2
    path on whole-match text, lat and lon — including on the whitespace
    characters where python \\s, java \\s and RE2 \\s DISAGREE (\\v,
    \\x1c, \\xa0, unicode spaces, NEL): the explicit [\\t\\n\\f\\r ]
    class in the JVM pattern pins the RE2 reading, which is the behavior
    the oracle fingerprints have exercised."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from gaia_spark.functions.geoparse import GEOPARSE_PATTERN_RE2, geoparse

    cases = [
        "12.5,45.6", "x 12.34 , 56.78 y", "x 12.34\t,\t56.78 y",
        "x 12.34\v,\v56.78 y", "x 12.34\x1c,\x1c56.78 y",
        "x 12.34\xa0,\xa056.78 y", "x 12.34 , 56.78 y",
        "x 12.34\n,\n56.78 y", "x 12.34\x85,\x8556.78 y",
        "12.5,45.6\n", "a\n12.5,45.6", "12.5,45.6.", "90,180",
        "90.0000001,45.6", "-90.000000,-180.000000", "(12.5,45.6)",
        "x-12.5,45.6", ",12.5,45.6", "12.5 ,  45.6 more", "12.5,\n45.6",
        "1.2,3.4 5.6,7.8", "89.9,180.1", "9,9", "0.0,0.0", ".5,.6",
    ]
    rng = np.random.RandomState(13)
    alpha = ["0", "1", "5", "9", ".", ",", "-", "(", ")", "\n", "\t", " ",
             "\v", "\xa0", "a", "Z", "90", "180", ".0", "85.123456",
             "12.3456789", ",-"]
    cases += ["".join(rng.choice(alpha, size=rng.randint(1, 25)))
              for _ in range(5000)]
    res = pc.extract_regex(pa.array(cases), GEOPARSE_PATTERN_RE2)
    expected = []
    for i in range(len(cases)):
        if res[i].is_valid:
            v = res[i].as_py()
            expected.append((v["m"], float(v["lat"]), float(v["lon"])))
        else:
            expected.append((None, None, None))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "i long, text string"
    )
    got = {
        r.i: (r.extracted, r.lat, r.lon)
        for r in geoparse(df).select("i", "extracted", "lat", "lon").collect()
    }
    for i, t in enumerate(cases):
        assert got[i] == expected[i], (
            f"jvm/re2 divergence on {t!r}: {got[i]!r} vs {expected[i]!r}"
        )
