"""Registry tranche 6: round-5 session-4 additions — web×geo cross-tier
operators (route deviation, polyline smoothing, URL pattern mining,
toponym disambiguation) over the driver tables.

Every query is oracle-paired and hash-checked; floats flow through the
portable fixed-point idioms (`P.floor_scaled_sql`) so both engines agree
bit-for-bit."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gaia_spark.functions import portable as P
from gaia_spark.functions import web as W
from gaia_spark.queries import load, register
from gaia_spark.session import local_df

# --- cross-track / along-track route deviation --------------------------------

# fixed great-circle route between two key-derived endpoints (integer-key
# formulas — both engines rebuild the exact same doubles)
_RT = {
    "lat1": P.key_lat_sql("41"),
    "lon1": P.key_lon_sql("41"),
    "lat2": P.key_lat_sql("97"),
    "lon2": P.key_lon_sql("97"),
}
_XT, _AT = P.cross_track_sqls("lat", "lon", **_RT)


@register(
    "q_cross_track",
    f"""
    WITH pts AS (SELECT c_custkey, {P.key_lat_sql('c_custkey')} AS lat,
                        {P.key_lon_sql('c_custkey')} AS lon FROM customer)
    SELECT c_custkey,
           {P.floor_scaled_sql(_XT, 3)} AS dxt_mm,
           {P.floor_scaled_sql(_AT, 3)} AS dat_mm
    FROM pts
    """,
)
def q_cross_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed cross-track + along-track distance of every customer point to
    a fixed great-circle route (ST_LineLocatePoint / route-corridor
    analytics, `[R] SURVEY.md §2.C DistanceProcess` family). Map-only: one
    shared trig expression per output, no shuffle at all, mm-quantized for
    the cross-engine hash."""
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(P.key_lat_sql("c_custkey")).alias("lat"),
        F.expr(P.key_lon_sql("c_custkey")).alias("lon"),
    )
    return pts.select(
        "c_custkey",
        F.expr(P.floor_scaled_sql(_XT, 3)).alias("dxt_mm"),
        F.expr(P.floor_scaled_sql(_AT, 3)).alias("dat_mm"),
    )


# --- Chaikin polyline smoothing ------------------------------------------------

# jagged per-user walk: key-derived home plus event-cycled jitter, every
# 5th event sampled as a vertex (ord = event_id, unique and time-ordered)
_CH_LAT = (
    f"({P.key_lat_sql('user_id')} "
    "+ (event_id % 19) * (cast(3 as double) / cast(1000 as double)))"
)
_CH_LON = (
    f"({P.key_lon_sql('user_id')} "
    "+ (event_id % 23) * (cast(3 as double) / cast(1000 as double)))"
)


def _chaikin_round_oracle(src: str) -> str:
    """One corner-cutting round in plain SQL over (user_id, ord, x, y):
    emits start + per-leg q/r + end, ords contiguous from the row number —
    the exact integer twin of trajectory.chaikin_round."""
    b = (
        "(SELECT user_id, ord, x, y, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ord) - 1 AS rn, "
        "lead(x) OVER (PARTITION BY user_id ORDER BY ord) AS nx, "
        "lead(y) OVER (PARTITION BY user_id ORDER BY ord) AS ny "
        f"FROM {src})"
    )
    return (
        "(SELECT user_id, 0 AS ord, 4 * x AS x, 4 * y AS y "
        f"FROM {b} AS b0 WHERE rn = 0 "
        "UNION ALL SELECT user_id, 2 * rn + 1, 3 * x + nx, 3 * y + ny "
        f"FROM {b} AS b1 WHERE nx IS NOT NULL "
        "UNION ALL SELECT user_id, 2 * rn + 2, x + 3 * nx, y + 3 * ny "
        f"FROM {b} AS b2 WHERE nx IS NOT NULL "
        "UNION ALL SELECT user_id, 2 * rn + 1, 4 * x, 4 * y "
        f"FROM {b} AS b3 WHERE nx IS NULL)"
    )


def _chaikin_oracle() -> str:
    pts = (
        "(SELECT user_id, event_id AS ord, "
        f"{P.floor_scaled_sql(f'({_CH_LAT}) + 90.0', 6)} AS x, "
        f"{P.floor_scaled_sql(f'({_CH_LON}) + 180.0', 6)} AS y "
        "FROM events WHERE event_id % 5 = 0)"
    )
    r2 = _chaikin_round_oracle(_chaikin_round_oracle(pts))
    return (
        "SELECT user_id, cast(ord as bigint) AS ord, "
        "cast(x as bigint) AS x_e6x16, cast(y as bigint) AS y_e6x16 "
        f"FROM {r2} AS r2"
    )


@register("q_chaikin", _chaikin_oracle())
def q_chaikin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Chaikin corner-cutting rounds over each user's sampled movement
    polyline — trajectory smoothing before map display/matching. All
    arithmetic is exact bigints (the /4 per round is carried in the scale:
    output = e6 coordinates x16), so the refined curve hash-checks
    bit-for-bit. ONE window shuffle per round, ords derived from row
    numbers — no sorts, no Python."""
    from gaia_spark.operators.trajectory import chaikin_smooth

    pts = (
        load(spark, sf_dir, "events")
        .filter(F.expr("event_id % 5 = 0"))
        .select(
            "user_id",
            F.col("event_id").alias("ord"),
            F.expr(P.floor_scaled_sql(f"({_CH_LAT}) + 90.0", 6)).alias("x"),
            F.expr(P.floor_scaled_sql(f"({_CH_LON}) + 180.0", 6)).alias("y"),
        )
    )
    out = chaikin_smooth(pts, rounds=2, key="user_id", ord_col="ord", x="x", y="y")
    return out.select(
        "user_id",
        F.col("ord").cast("long").alias("ord"),
        F.col("x").cast("long").alias("x_e6x16"),
        F.col("y").cast("long").alias("y_e6x16"),
    )


# --- URL template mining -------------------------------------------------------

# denser URL fixture: 25 hosts, three path families (item pages with a
# per-doc id, category/page pairs with small cycling ids, one static page)
_TPL_URL = (
    "concat('https://s', cast(doc_id % 25 as string), '.example', "
    "CASE WHEN doc_id % 3 = 0 THEN concat('/p/', cast(doc_id as string), '/view') "
    "WHEN doc_id % 3 = 1 THEN concat('/cat/', cast(doc_id % 7 as string), "
    "'/page/', cast(doc_id % 13 as string)) "
    "ELSE '/about/team' END)"
)


def _tpl_oracle() -> str:
    tpl = W.url_template_sql("url", P.DUCK)
    return f"""
    WITH u AS (SELECT {_TPL_URL} AS url FROM documents),
    t AS (SELECT {W.host_sql('url')} AS host, {tpl} AS template,
                 {W.path_of_sql('url')} AS path FROM u),
    g AS (SELECT host, template, cast(count(*) as bigint) AS n_urls,
                 cast(count(distinct path) as bigint) AS n_paths
          FROM t GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY host
                 ORDER BY n_urls DESC, template) AS rk FROM g)
    SELECT host, template, n_urls, n_paths, cast(rk as int) AS rk
    FROM r WHERE rk <= 3
    """


@register("q_url_templates", _tpl_oracle())
def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template mining: collapse digit runs in the path to '{{n}}',
    count URLs and distinct concrete paths per (host, template), keep each
    host's top-3 templates (deterministic count-then-name order) — the
    crawl-side structure-discovery pass that finds pagination/product
    patterns. One groupBy shuffle + one host-partitioned window over the
    already-small template table."""
    u = load(spark, sf_dir, "documents").select(F.expr(_TPL_URL).alias("url"))
    t = u.select(
        F.expr(W.host_sql("url")).alias("host"),
        F.expr(W.url_template_sql("url", P.SPARK)).alias("template"),
        F.expr(W.path_of_sql("url")).alias("path"),
    )
    g = t.groupBy("host", "template").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("path").alias("n_paths"),
    )
    w = Window.partitionBy("host").orderBy(F.desc("n_urls"), F.asc("template"))
    return (
        g.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("host", "template", "n_urls", "n_paths", F.col("rk").cast("int"))
    )


# --- toponym disambiguation family (web x geo entity linking) -------------------

from gaia_spark.operators import geotext as G  # noqa: E402


def _mentions_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("word")
    )
    return toks.filter(F.length("word") >= 4).distinct()


def _resolved_ctes() -> str:
    """DuckDB CTE chain replaying the full two-stage disambiguation:
    tokens → mentions → gazetteer → population prior → document anchor →
    distance re-rank → resolved senses (the oracle twin of
    geotext.disambiguate_toponyms, same exact-integer scores)."""
    fs = P.floor_scaled_sql
    alat = "(cast(alat_e4 as double) / cast(10000 as double) - 90.0)"
    alon = "(cast(alon_e4 as double) / cast(10000 as double) - 180.0)"
    return f"""
    toks AS (SELECT doc_id, unnest({P.split_ws('text', P.DUCK)}) AS word
             FROM documents),
    m AS (SELECT DISTINCT doc_id, word FROM toks WHERE length(word) >= 4),
    wv AS (SELECT DISTINCT word FROM m),
    gaz AS (SELECT word, {G.cand_id_sql('word', 'i', P.DUCK)} AS cand
            FROM wv CROSS JOIN (VALUES (0), (1), (2)) AS s(i)),
    g2 AS (SELECT word, cand, {G.CAND_LAT} AS lat,
                  {G.cand_lon_sql(P.DUCK)} AS lon, {G.CAND_POP} AS pop
           FROM gaz),
    p1 AS (SELECT word, lat, lon FROM
             (SELECT *, row_number() OVER (PARTITION BY word
                ORDER BY pop DESC, cand DESC) AS rk FROM g2) AS q1
           WHERE rk = 1),
    anc AS (SELECT doc_id,
              {P.bigint_div(f"sum({fs('lat + 90.0', 4)})", 'count(*)', P.DUCK)}
                AS alat_e4,
              {P.bigint_div(f"sum({fs('lon + 180.0', 4)})", 'count(*)', P.DUCK)}
                AS alon_e4
            FROM m JOIN p1 USING (word) GROUP BY doc_id),
    cnd AS (SELECT m.doc_id, m.word, g2.cand, g2.lat, g2.lon,
              {fs(P.haversine_m_sql('lat', 'lon', alat, alon), 3)} AS d_mm
            FROM m JOIN g2 USING (word) JOIN anc USING (doc_id)),
    res AS (SELECT doc_id, word, cand AS cand_id,
              {fs('lat + 90.0', 4)} - 900000 AS lat_e4,
              {fs('lon + 180.0', 4)} - 1800000 AS lon_e4,
              d_mm AS d_anchor_mm
            FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, word
                    ORDER BY d_mm, cand) AS rk FROM cnd) AS q2
            WHERE rk = 1)"""


@register(
    "q_geo_disambig",
    f"""
    WITH {_resolved_ctes()}
    SELECT doc_id, word, cand_id, lat_e4, lon_e4, d_anchor_mm FROM res
    """,
)
def q_geo_disambig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage toponym disambiguation of every place-name mention in the
    corpus against the deterministic 3-sense gazetteer: population prior →
    document anchor → great-circle re-rank (geotext module docstring for
    the 100-TB shape: broadcast gazetteer, two doc-keyed shuffles, exact
    bigint scores)."""
    return G.disambiguate_toponyms(_mentions_spark(spark, sf_dir))


@register(
    "q_place_comentions",
    f"""
    WITH {_resolved_ctes()},
    per AS (SELECT word, cand_id, cast(count(*) as bigint) AS n_docs_w
            FROM res GROUP BY 1, 2),
    pr AS (SELECT a.word AS word_a, a.cand_id AS cand_a,
                  b.word AS word_b, b.cand_id AS cand_b,
                  a.lat_e4 AS la, a.lon_e4 AS loa,
                  b.lat_e4 AS lb, b.lon_e4 AS lob
           FROM res a JOIN res b ON a.doc_id = b.doc_id AND a.word < b.word),
    g AS (SELECT word_a, cand_a, word_b, cand_b,
                 cast(count(*) as bigint) AS n_ab,
                 min(la) AS la, min(loa) AS loa, min(lb) AS lb, min(lob) AS lob
          FROM pr GROUP BY 1, 2, 3, 4),
    j AS (SELECT g.*, pa.n_docs_w AS n_a, pb.n_docs_w AS n_b
          FROM g JOIN per pa ON pa.word = g.word_a AND pa.cand_id = g.cand_a
                 JOIN per pb ON pb.word = g.word_b AND pb.cand_id = g.cand_b
          WHERE g.n_ab >= 2)
    SELECT word_a, word_b, cand_a, cand_b, n_ab,
      {P.floor_scaled_sql(
          'cast(n_ab as double) * cast((SELECT count(distinct doc_id) FROM res) '
          'as double) / (cast(n_a as double) * cast(n_b as double))', 6)}
        AS lift_e6,
      {P.floor_scaled_sql(P.haversine_m_sql(
          '(cast(la as double) / cast(10000 as double))',
          '(cast(loa as double) / cast(10000 as double))',
          '(cast(lb as double) / cast(10000 as double))',
          '(cast(lob as double) / cast(10000 as double))'), 0)} AS dist_m
    FROM j
    """,
)
def q_place_comentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Place co-mention network over the RESOLVED senses (chains the full
    disambiguation): one edge per co-occurring sense pair with exact doc
    counts, PMI-style lift, and the great-circle distance between the two
    senses — the distance-decay covariate of text-based spatial
    interaction. Pair fan-out is places-per-doc², never corpus²."""
    resolved = G.disambiguate_toponyms(_mentions_spark(spark, sf_dir))
    return G.place_comentions(resolved, min_pairs=2)


@register(
    "q_geo_focus",
    f"""
    WITH {_resolved_ctes()},
    mom AS (SELECT doc_id, cast(count(*) as bigint) AS n_places,
              sum(lat_e4 + 900000) AS sx,
              sum((lat_e4 + 900000) * (lat_e4 + 900000)) AS sx2,
              sum(lon_e4 + 1800000) AS sy,
              sum((lon_e4 + 1800000) * (lon_e4 + 1800000)) AS sy2
            FROM res GROUP BY 1),
    r AS (SELECT doc_id, n_places,
            cast({P.bigint_div('sx', 'n_places', P.DUCK)} - 900000 as bigint)
              AS clat_e4,
            cast({P.bigint_div('sy', 'n_places', P.DUCK)} - 1800000 as bigint)
              AS clon_e4,
            {P.floor_scaled_sql(
                '(sqrt(cast((n_places * sx2 - sx * sx + n_places * sy2 - sy * sy) '
                'as double)) / cast(n_places as double) / cast(10000 as double))',
                6)} AS radius_deg_e6
          FROM mom)
    SELECT doc_id, n_places, clat_e4, clon_e4, radius_deg_e6,
           CASE WHEN radius_deg_e6 < 5000000 THEN 'local'
                WHEN radius_deg_e6 < 30000000 THEN 'regional'
                ELSE 'global' END AS focus
    FROM r
    """,
)
def q_geo_focus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document geographic focus from the resolved places: exact-integer
    mean center plus an RMS dispersion radius (bigint moments, one IEEE
    sqrt), classified local/regional/global by comparing the QUANTIZED
    radius so the label can never flip cross-engine."""
    resolved = G.disambiguate_toponyms(_mentions_spark(spark, sf_dir))
    return G.geo_focus(resolved)


# --- readability scoring (Flesch-Kincaid) --------------------------------------

from gaia_spark.functions import text as T  # noqa: E402


def _readability_exprs(dialect: str) -> dict[str, str]:
    """Exact-integer counts -> one IEEE chain per score, shared op order.
    Sentences are length-derived (the synthetic corpus has no punctuation):
    one pseudo-sentence per started run of 15 words, the documented
    deterministic stand-in."""
    n_words = f"cast({T.token_count_sql('text', dialect)} as bigint)"
    n_syll = (
        f"(cast({T.syllable_runs_sql('text', dialect)} as bigint) + "
        f"cast({T.novowel_words_sql('text', dialect)} as bigint))"
    )
    n_sent = P.bigint_div(f"({n_words} + 14)", "15", dialect)
    wps = f"(cast(n_words as double) / cast(n_sentences as double))"
    spw = f"(cast(n_syllables as double) / cast(n_words as double))"
    fk = (
        f"((206835 / cast(1000 as double)) - (1015 / cast(1000 as double)) * {wps} "
        f"- (846 / cast(10 as double)) * {spw})"
    )
    grade = (
        f"((39 / cast(100 as double)) * {wps} + (118 / cast(10 as double)) * {spw} "
        f"- (1559 / cast(100 as double)))"
    )
    return {
        "n_words": n_words,
        "n_syllables": n_syll,
        "n_sentences": f"cast({n_sent} as bigint)",
        "fk_ease_e3": P.floor_scaled_sql(fk, 3),
        "fk_grade_e3": P.floor_scaled_sql(grade, 3),
    }


def _readability_oracle() -> str:
    e = _readability_exprs(P.DUCK)
    return f"""
    WITH c AS (SELECT doc_id, {e['n_words']} AS n_words,
                      {e['n_syllables']} AS n_syllables,
                      {e['n_sentences']} AS n_sentences
               FROM documents WHERE length(text) > 0)
    SELECT doc_id, n_words, n_syllables, n_sentences,
           {e['fk_ease_e3']} AS fk_ease_e3,
           {e['fk_grade_e3']} AS fk_grade_e3
    FROM c
    """


@register("q_readability", _readability_oracle())
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid reading ease + grade level per document, with a
    deterministic vowel-run syllable counter (runs + vowelless words =
    per-word max(1, runs), computed in ONE regex pass — no explode) and
    length-derived pseudo-sentences. Map-only: counts are exact bigints,
    each score is one shared IEEE chain, e3-quantized."""
    e = _readability_exprs(P.SPARK)
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    c = d.select(
        "doc_id",
        F.expr(e["n_words"]).alias("n_words"),
        F.expr(e["n_syllables"]).alias("n_syllables"),
        F.expr(e["n_sentences"]).alias("n_sentences"),
    )
    return c.select(
        "doc_id", "n_words", "n_syllables", "n_sentences",
        F.expr(e["fk_ease_e3"]).alias("fk_ease_e3"),
        F.expr(e["fk_grade_e3"]).alias("fk_grade_e3"),
    )


# --- Zipf law fit over the corpus frequency spectrum ---------------------------


def _zipf_oracle() -> str:
    fs = P.floor_scaled_sql
    return f"""
    WITH toks AS (SELECT unnest({P.split_ws('text', P.DUCK)}) AS word
                  FROM documents WHERE length(text) > 0),
    freq AS (SELECT word, cast(count(*) as bigint) AS n FROM toks
             WHERE length(word) > 0 GROUP BY word),
    rk AS (SELECT word, n,
                  row_number() OVER (ORDER BY n DESC, word ASC) AS rank FROM freq),
    q AS (SELECT {fs('ln(cast(rank as double))', 6)} AS x_e6,
                 {fs('ln(cast(n as double))', 6)} AS y_e6 FROM rk),
    s AS (SELECT cast(count(*) as bigint) AS m,
                 cast(sum(x_e6) as bigint) AS sx, cast(sum(y_e6) as bigint) AS sy,
                 cast(sum(x_e6 * y_e6) as bigint) AS sxy,
                 cast(sum(x_e6 * x_e6) as bigint) AS sxx
          FROM q)
    SELECT m AS n_vocab,
      {fs('(cast(m * sxy - sx * sy as double) / cast(m * sxx - sx * sx as double))', 6)}
        AS slope_e6,
      {fs('((cast(sy as double) / cast(m as double) '
          '- (cast(m * sxy - sx * sy as double) / cast(m * sxx - sx * sx as double)) '
          '* cast(sx as double) / cast(m as double)) / cast(1000000 as double))', 6)}
        AS intercept_e6
    FROM s
    """


@register("q_zipf", _zipf_oracle())
def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus frequency spectrum: exact word counts,
    deterministic rank (count desc, word asc), ln(freq)-on-ln(rank) OLS
    with e6-prequantized logs so every moment is an exact bigint and the
    slope/intercept are single IEEE divisions. The rank window sorts the
    VOCABULARY (bounded), never the corpus; intercept is reported on the
    e6 log scale of the prequantized inputs."""
    fs = P.floor_scaled_sql
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = d.select(F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("word"))
    freq = (
        toks.filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    rk = freq.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("word")))
    )
    q = rk.select(
        F.expr(fs("ln(cast(rank as double))", 6)).alias("x_e6"),
        F.expr(fs("ln(cast(n as double))", 6)).alias("y_e6"),
    )
    s = q.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x_e6").alias("sx"),
        F.sum("y_e6").alias("sy"),
        F.sum(F.col("x_e6") * F.col("y_e6")).alias("sxy"),
        F.sum(F.col("x_e6") * F.col("x_e6")).alias("sxx"),
    )
    slope = "(cast(m * sxy - sx * sy as double) / cast(m * sxx - sx * sx as double))"
    intercept = (
        f"((cast(sy as double) / cast(m as double) - {slope} "
        "* cast(sx as double) / cast(m as double)) / cast(1000000 as double))"
    )
    return s.select(
        F.col("m").alias("n_vocab"),
        F.expr(fs(slope, 6)).alias("slope_e6"),
        F.expr(fs(intercept, 6)).alias("intercept_e6"),
    )


# --- asymmetric shingle containment --------------------------------------------


def _containment_oracle() -> str:
    fs = P.floor_scaled_sql
    sh = T.shingles_sql("text", P.DUCK, k=3)
    return f"""
    WITH sh0 AS (SELECT doc_id, unnest({sh}) AS s FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM sh0),
    sizes AS (SELECT doc_id, cast(count(*) as bigint) AS n_sh FROM sh GROUP BY 1),
    dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
    rare AS (SELECT s FROM dfreq WHERE df >= 2 AND df <= 8),
    cand AS (SELECT DISTINCT r1.doc_id AS a, r2.doc_id AS b
             FROM sh r1 JOIN rare USING (s) JOIN sh r2 USING (s)
             WHERE r1.doc_id < r2.doc_id),
    inter AS (SELECT cand.a, cand.b, cast(count(*) as bigint) AS inter
              FROM cand JOIN sh ia ON ia.doc_id = cand.a
                        JOIN sh ib ON ib.doc_id = cand.b AND ib.s = ia.s
              GROUP BY 1, 2)
    SELECT inter.a AS doc_a, inter.b AS doc_b, inter.inter AS inter,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           {fs('(cast(inter as double) / cast(sa.n_sh as double))', 6)}
             AS cont_ab_e6,
           {fs('(cast(inter as double) / cast(sb.n_sh as double))', 6)}
             AS cont_ba_e6
    FROM inter JOIN sizes sa ON sa.doc_id = inter.a
               JOIN sizes sb ON sb.doc_id = inter.b
    """


@register("q_containment", _containment_oracle())
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B|/|A| over rare-shingle candidate
    pairs — the partial-inclusion (quote/excerpt) signal Jaccard hides.
    Candidate generation is a df-capped inverted index (2 ≤ df ≤ 8), so
    boilerplate shingles never drive the self-join; exact intersection
    only for candidates."""
    from gaia_spark.operators.dedup import containment_pairs

    d = load(spark, sf_dir, "documents")
    return containment_pairs(d, k=3, min_df=2, max_df=8)


# --- HMM map matching (Viterbi decode over the road-grid network) --------------

# 53-road grid network: 17 horizontal (lat -80..80 step 10) + 36 vertical
# (lon -175..175 step 10), built from integer sequences so both engines
# rebuild identical doubles
_MM_SWITCH = 50_000_000  # 50 km switch penalty, e3-mm


def _mm_roads(spark: SparkSession) -> DataFrame:
    h = spark.range(17).selectExpr(
        "cast(id as bigint) AS road_id",
        "cast(-80 + id * 10 as double) AS y1",
        "cast(-180 as double) AS x1",
        "cast(-80 + id * 10 as double) AS y2",
        "cast(180 as double) AS x2",
    )
    v = spark.range(36).selectExpr(
        "cast(100 + id as bigint) AS road_id",
        "cast(-85 as double) AS y1",
        "cast(-175 + id * 10 as double) AS x1",
        "cast(85 as double) AS y2",
        "cast(-175 + id * 10 as double) AS x2",
    )
    return h.unionAll(v)


def _mm_oracle() -> str:
    from gaia_spark.operators.snap import snap_point_sql, snap_t_sql

    fs = P.floor_scaled_sql
    t = snap_t_sql("lat", "lon", "y1", "x1", "y2", "x2")
    sy, sx = snap_point_sql("t", "y1", "x1", "y2", "x2")
    gap = P.haversine_m_sql(
        "(cast(pa as double) / cast(1000000 as double))",
        "(cast(qa as double) / cast(1000000 as double))",
        "(cast(pb as double) / cast(1000000 as double))",
        "(cast(qb as double) / cast(1000000 as double))",
    )
    return f"""
    WITH RECURSIVE
    roads AS (
      SELECT cast(i as bigint) AS road_id,
             cast(-80 + i * 10 as double) AS y1, cast(-180 as double) AS x1,
             cast(-80 + i * 10 as double) AS y2, cast(180 as double) AS x2
      FROM unnest(generate_series(0, 16)) AS t(i)
      UNION ALL
      SELECT cast(100 + j as bigint), cast(-85 as double),
             cast(-175 + j * 10 as double), cast(85 as double),
             cast(-175 + j * 10 as double)
      FROM unnest(generate_series(0, 35)) AS t(j)),
    pts AS (SELECT user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id)
                     - 1 AS seq,
                   {_CH_LAT} AS lat, {_CH_LON} AS lon
            FROM events WHERE event_id % 6 = 0),
    c0 AS (SELECT p.user_id, p.seq, r.road_id, p.lat, p.lon,
                  r.y1, r.x1, r.y2, r.x2, {t} AS t
           FROM pts p CROSS JOIN roads r),
    c1 AS (SELECT user_id, seq, road_id, lat, lon, {sy} AS sy, {sx} AS sx
           FROM c0),
    cand AS (SELECT user_id, seq, road_id,
                    {fs(P.haversine_m_sql('lat', 'lon', 'sy', 'sx'), 3)} AS emis_e3,
                    {fs('sy', 6)} AS plat_e6, {fs('sx', 6)} AS plon_e6
             FROM c1),
    L AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, seq
               ORDER BY emis_e3, road_id) AS k FROM cand) q WHERE k <= 3),
    tr AS (SELECT a.user_id, a.seq, a.k AS ka, b.k AS kb,
                  CASE WHEN a.road_id = b.road_id THEN cast(0 as bigint)
                       ELSE {_MM_SWITCH} + {fs(gap, 3)} END AS trans_e3
           FROM (SELECT user_id, seq, k, road_id,
                        plat_e6 AS pa, plon_e6 AS qa FROM L) a
           JOIN (SELECT user_id, seq - 1 AS seq, k, road_id,
                        plat_e6 AS pb, plon_e6 AS qb FROM L) b
             USING (user_id, seq)),
    dp AS (
      SELECT user_id, seq, k, cast(emis_e3 as bigint) AS cost,
             lpad(cast(road_id as varchar), 3, '0') AS path
      FROM L WHERE seq = 0
      UNION ALL
      SELECT g.user_id, g.seq, g.kb AS k, (g.mc).c AS cost, (g.mc).p AS path
      FROM (
        SELECT dp.user_id, l.seq AS seq, l.k AS kb,
               min(struct_pack(c := dp.cost + t.trans_e3 + l.emis_e3,
                               p := dp.path || '|' ||
                                    lpad(cast(l.road_id as varchar), 3, '0')))
                 AS mc
        FROM dp
        JOIN tr t ON t.user_id = dp.user_id AND t.seq = dp.seq AND t.ka = dp.k
        JOIN L l ON l.user_id = dp.user_id AND l.seq = dp.seq + 1
                AND l.k = t.kb
        GROUP BY 1, 2, 3
      ) g
    ),
    lastq AS (SELECT user_id, max(seq) AS ms FROM pts GROUP BY 1),
    best AS (SELECT dp.user_id,
                    min(struct_pack(c := dp.cost, p := dp.path)) AS b
             FROM dp JOIN lastq ON lastq.user_id = dp.user_id
                               AND dp.seq = lastq.ms
             GROUP BY 1),
    steps AS (SELECT user_id, i - 1 AS seq,
                     cast(string_split((b).p, '|')[i] as bigint) AS road_id,
                     (b).c AS total
              FROM best,
                   unnest(generate_series(1, len(string_split((b).p, '|'))))
                     AS t(i))
    SELECT s.user_id, cast(s.seq as bigint) AS seq, s.road_id,
           cast(L.emis_e3 as bigint) AS emis_e3,
           cast(s.total as bigint) AS total_cost_e3
    FROM steps s JOIN L ON L.user_id = s.user_id AND L.seq = s.seq
                       AND L.road_id = s.road_id
    """


@register("q_map_match", _mm_oracle())
def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi map matching of every user's sampled walk onto the grid
    road network: 3-candidate lattice (snap distance + road-id
    tie-break), integer emission/transition costs, and the exact-cost
    argmin path with a (cost, zero-padded path) total order — decoded as
    ONE Arrow cogrouped task per trajectory in the engine and replayed
    by the oracle as a recursive-CTE forward DP carrying the same
    struct-min state. No trig in Python: all distances pre-quantized by
    the shared SQL formulas."""
    from gaia_spark.operators.trajectory import map_match

    w = Window.partitionBy("user_id").orderBy("event_id")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pts = (
        load(spark, sf_dir, "events")
        .filter(F.expr("event_id % 6 = 0"))
        .select(
            "user_id", "event_id",
            F.expr(_CH_LAT).alias("lat"), F.expr(_CH_LON).alias("lon"),
        )
        # EXPLICIT user-keyed repartition (user-specified ⇒ AQE never
        # coalesces it) replacing the window's implicit exchange: the
        # seq window, the candidate fan-out, the top-k aggregation and
        # the Viterbi mapInPandas stage all run on this one partitioning,
        # and without it AQE coalesces the small window shuffle to ~1
        # partition and serializes the whole DP (map_match's own guard
        # repartition is elided as redundant when the input is already
        # hash(user_id)-partitioned, so the protection must be HERE)
        .repartition(n_part, "user_id")
        .withColumn("seq", F.row_number().over(w) - 1)
    )
    out = map_match(
        pts, _mm_roads(spark), n_cand=3, switch_penalty_e3=_MM_SWITCH
    )
    return out.select(
        "user_id",
        F.col("seq").cast("long"),
        F.col("road_id").cast("long"),
        F.col("emis_e3").cast("long"),
        F.col("total_cost_e3").cast("long"),
    )


# --- clickstream analytics: funnel / transitions / cohort retention ------------


@register(
    "q_funnel",
    f"""
    WITH s1 AS (SELECT user_id, min(struct_pack(ts := ts, eid := event_id)) AS m
                FROM events WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(struct_pack(ts := e.ts, eid := e.event_id)) AS m
           FROM events e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click'
             AND (e.ts > (s1.m).ts OR (e.ts = (s1.m).ts
                  AND e.event_id > (s1.m).eid))
           GROUP BY 1),
    s3 AS (SELECT e.user_id, min(struct_pack(ts := e.ts, eid := e.event_id)) AS m
           FROM events e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase'
             AND (e.ts > (s2.m).ts OR (e.ts = (s2.m).ts
                  AND e.event_id > (s2.m).eid))
           GROUP BY 1),
    n AS (SELECT (SELECT cast(count(*) as bigint) FROM s1) AS n1,
                 (SELECT cast(count(*) as bigint) FROM s2) AS n2,
                 (SELECT cast(count(*) as bigint) FROM s3) AS n3)
    SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
           cast(1000000 as bigint) AS conv_e6 FROM n
    UNION ALL
    SELECT 2, 'click', n2,
      CASE WHEN n1 = 0 THEN cast(0 as bigint) ELSE
        {P.floor_scaled_sql('(cast(n2 as double) / cast(n1 as double))', 6)} END
    FROM n
    UNION ALL
    SELECT 3, 'purchase', n3,
      CASE WHEN n2 = 0 THEN cast(0 as bigint) ELSE
        {P.floor_scaled_sql('(cast(n3 as double) / cast(n2 as double))', 6)} END
    FROM n
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each stage is
    the user's EARLIEST qualifying event strictly after the previous
    stage's pick ((ts, event_id) total order, so timestamp ties never
    flip engines). Three chained user-keyed aggregates — the shuffles
    share the user partitioning — then three single-row counts. The
    classic web-analytics report."""
    e = load(spark, sf_dir, "events")

    def stage(ev_type: str, prev: DataFrame | None) -> DataFrame:
        s = e.filter(F.col("event_type") == ev_type)
        if prev is not None:
            s = s.join(prev, "user_id").filter(
                (F.col("ts") > F.col("m.ts"))
                | ((F.col("ts") == F.col("m.ts"))
                   & (F.col("event_id") > F.col("m.eid")))
            )
        return s.groupBy("user_id").agg(
            F.min(F.struct(F.col("ts").alias("ts"),
                           F.col("event_id").alias("eid"))).alias("m")
        )

    s1 = stage("view", None)
    s2 = stage("click", s1)
    s3 = stage("purchase", s2)
    n1 = s1.agg(F.count("*").cast("long").alias("n1"))
    n2 = s2.agg(F.count("*").cast("long").alias("n2"))
    n3 = s3.agg(F.count("*").cast("long").alias("n3"))
    n = n1.crossJoin(n2).crossJoin(n3)
    conv2 = ("CASE WHEN n1 = 0 THEN cast(0 as bigint) ELSE "
             + P.floor_scaled_sql("(cast(n2 as double) / cast(n1 as double))", 6)
             + " END")
    conv3 = ("CASE WHEN n2 = 0 THEN cast(0 as bigint) ELSE "
             + P.floor_scaled_sql("(cast(n3 as double) / cast(n2 as double))", 6)
             + " END")
    r1 = n.selectExpr("1 AS step", "'view' AS event_type",
                      "n1 AS n_users", "cast(1000000 as bigint) AS conv_e6")
    r2 = n.selectExpr("2 AS step", "'click' AS event_type",
                      "n2 AS n_users", f"{conv2} AS conv_e6")
    r3 = n.selectExpr("3 AS step", "'purchase' AS event_type",
                      "n3 AS n_users", f"{conv3} AS conv_e6")
    return r1.unionAll(r2).unionAll(r3)


@register(
    "q_markov",
    f"""
    WITH p AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev_type
               FROM events),
    c AS (SELECT prev_type, event_type AS next_type,
                 cast(count(*) as bigint) AS n
          FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT prev_type, cast(sum(n) as bigint) AS tot FROM c GROUP BY 1)
    SELECT c.prev_type, c.next_type, c.n,
           {P.floor_scaled_sql('(cast(c.n as double) / cast(t.tot as double))', 6)}
             AS p_e6
    FROM c JOIN t USING (prev_type)
    """,
)
def q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the clickstream: per-user
    lag over (ts, event_id), exact pair counts, conditional probability
    e6 — ONE user window shuffle + a type²-bounded aggregate."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = e.withColumn("prev_type", F.lag("event_type").over(w))
    c = (
        p.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    t = c.groupBy("prev_type").agg(F.sum("n").cast("long").alias("tot"))
    return c.join(F.broadcast(t), "prev_type").select(
        "prev_type", "next_type", F.col("n").cast("long"),
        F.expr(P.floor_scaled_sql(
            "(cast(n as double) / cast(tot as double))", 6)).alias("p_e6"),
    )


# portable day index: floor(epoch seconds / 86400) — TIMESTAMP_NTZ pinned
# to UTC in both engines
_DAY_SPARK = "cast(floor(cast(cast(ts as timestamp) as double) / 86400) as bigint)"
_DAY_DUCK = "cast(floor(date_part('epoch', ts) / 86400) as bigint)"


@register(
    "q_cohort",
    f"""
    WITH d AS (SELECT DISTINCT user_id, {_DAY_DUCK} AS day FROM events),
    c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
    sz AS (SELECT cohort_day, cast(count(*) as bigint) AS cohort_size
           FROM c GROUP BY 1),
    a AS (SELECT c.cohort_day, d.day - c.cohort_day AS offset_d,
                 cast(count(*) as bigint) AS n_active
          FROM d JOIN c USING (user_id)
          WHERE d.day - c.cohort_day BETWEEN 0 AND 7
          GROUP BY 1, 2)
    SELECT a.cohort_day, cast(a.offset_d as bigint) AS offset_d,
           a.n_active, sz.cohort_size,
           {P.floor_scaled_sql(
               '(cast(a.n_active as double) / cast(sz.cohort_size as double))', 6)}
             AS retention_e6
    FROM a JOIN sz USING (cohort_day)
    """,
)
def q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, retention at
    day offsets 0-7 — distinct (user, day) activity, one user-keyed min,
    one cohort-keyed count; the activity join reuses the user
    partitioning. Day index is the portable epoch//86400."""
    e = load(spark, sf_dir, "events")
    d = e.select("user_id", F.expr(_DAY_SPARK).alias("day")).distinct()
    c = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sz = c.groupBy("cohort_day").agg(F.count("*").cast("long").alias("cohort_size"))
    a = (
        d.join(c, "user_id")
        .withColumn("offset_d", F.col("day") - F.col("cohort_day"))
        .filter((F.col("offset_d") >= 0) & (F.col("offset_d") <= 7))
        .groupBy("cohort_day", "offset_d")
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    return a.join(F.broadcast(sz), "cohort_day").select(
        "cohort_day", F.col("offset_d").cast("long"), "n_active", "cohort_size",
        F.expr(P.floor_scaled_sql(
            "(cast(n_active as double) / cast(cohort_size as double))", 6)
        ).alias("retention_e6"),
    )


# --- GPS spike filtering (speed-based outlier detection) -----------------------

# walk fixture with teleport spikes: every 11th event jumps to a
# key-derived far location and the next event returns to the walk
_GPS_LAT = (
    f"CASE WHEN event_id % 11 = 0 THEN {P.key_lat_sql('event_id')} "
    f"ELSE {_CH_LAT} END"
)
_GPS_LON = (
    f"CASE WHEN event_id % 11 = 0 THEN {P.key_lon_sql('event_id')} "
    f"ELSE {_CH_LON} END"
)
_GPS_VMAX_E3 = 50_000  # 50 m/s in e3 fixed point


def _gps_oracle() -> str:
    fs = P.floor_scaled_sql
    d_in = P.haversine_m_sql("prev_lat", "prev_lon", "lat", "lon")
    d_out = P.haversine_m_sql("lat", "lon", "next_lat", "next_lon")
    return f"""
    WITH e AS (SELECT user_id, event_id, date_part('epoch', ts) AS ep,
                      {_GPS_LAT} AS lat, {_GPS_LON} AS lon FROM events),
    w AS (SELECT user_id, event_id, lat, lon, ep,
                 lag(lat) OVER win AS prev_lat, lag(lon) OVER win AS prev_lon,
                 lag(ep) OVER win AS prev_ep,
                 lead(lat) OVER win AS next_lat, lead(lon) OVER win AS next_lon,
                 lead(ep) OVER win AS next_ep
          FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ep, event_id)),
    s AS (SELECT user_id, event_id,
            CASE WHEN prev_lat IS NOT NULL AND ep - prev_ep > 0
                 THEN {fs(f'(({d_in}) / (ep - prev_ep))', 3)} END AS in_speed_e3,
            CASE WHEN next_lat IS NOT NULL AND next_ep - ep > 0
                 THEN {fs(f'(({d_out}) / (next_ep - ep))', 3)} END AS out_speed_e3
          FROM w)
    SELECT user_id, event_id, in_speed_e3, out_speed_e3,
           (in_speed_e3 IS NOT NULL AND out_speed_e3 IS NOT NULL
            AND in_speed_e3 > {_GPS_VMAX_E3} AND out_speed_e3 > {_GPS_VMAX_E3})
             AS is_outlier
    FROM s
    """


@register("q_gps_outliers", _gps_oracle())
def q_gps_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS spike filter: a point is an outlier when BOTH its incoming and
    outgoing great-circle speeds exceed 50 m/s (the teleport-and-back
    signature; genuine fast travel keeps a consistent heading and fails
    the two-sided test at walk scale). ONE user window shuffle feeds
    lag+lead; speeds are e3-quantized from exact epoch differences —
    trajectory cleaning before any downstream matching."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("cast(cast(ts as timestamp) as double)").alias("ep"),
        F.expr(_GPS_LAT).alias("lat"), F.expr(_GPS_LON).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    d = (
        e.withColumn("prev_lat", F.lag("lat").over(w))
        .withColumn("prev_lon", F.lag("lon").over(w))
        .withColumn("prev_ep", F.lag("ep").over(w))
        .withColumn("next_lat", F.lead("lat").over(w))
        .withColumn("next_lon", F.lead("lon").over(w))
        .withColumn("next_ep", F.lead("ep").over(w))
    )
    fs = P.floor_scaled_sql
    d_in = P.haversine_m_sql("prev_lat", "prev_lon", "lat", "lon")
    d_out = P.haversine_m_sql("lat", "lon", "next_lat", "next_lon")
    s = d.select(
        "user_id", "event_id",
        F.expr(
            "CASE WHEN prev_lat IS NOT NULL AND ep - prev_ep > 0 THEN "
            + fs(f"(({d_in}) / (ep - prev_ep))", 3) + " END"
        ).alias("in_speed_e3"),
        F.expr(
            "CASE WHEN next_lat IS NOT NULL AND next_ep - ep > 0 THEN "
            + fs(f"(({d_out}) / (next_ep - ep))", 3) + " END"
        ).alias("out_speed_e3"),
    )
    return s.withColumn(
        "is_outlier",
        F.expr(
            f"in_speed_e3 IS NOT NULL AND out_speed_e3 IS NOT NULL "
            f"AND in_speed_e3 > {_GPS_VMAX_E3} AND out_speed_e3 > {_GPS_VMAX_E3}"
        ),
    )


# --- session path mining --------------------------------------------------------


@register(
    "q_session_paths",
    """
    WITH g AS (SELECT user_id, ts, event_id, event_type,
                      CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                           THEN 0 ELSE 1 END AS new_s
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts, event_id, event_type,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
          FROM g),
    p AS (SELECT user_id, session_no,
                 array_to_string(list(event_type ORDER BY ts, event_id)[1:8], '>')
                   AS path
          FROM s GROUP BY 1, 2),
    c AS (SELECT path, cast(count(*) as bigint) AS n_sessions FROM p GROUP BY 1)
    SELECT path, n_sessions, cast(rk as int) AS rk FROM
      (SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rk
       FROM c) q
    WHERE rk <= 20
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journeys: sessionize (30-min gap), take each
    session's first 8 event types in (ts, event_id) order as a '>'-joined
    path, count sessions per path. The per-session ordering uses
    sort_array over (ts, event_id, type) structs — deterministic where a
    bare collect_list is not; the top-k window sorts only the
    path-vocabulary table."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    epoch = F.col("ts").cast("timestamp").cast("double")
    g = e.withColumn(
        "new_s", F.when(epoch - F.lag(epoch).over(w) <= 1800, 0).otherwise(1)
    )
    s = g.withColumn("session_no", F.sum("new_s").over(cum).cast("long"))
    p = s.groupBy("user_id", "session_no").agg(
        F.expr(
            "array_join(transform(slice(array_sort("
            "collect_list(struct(ts, event_id, event_type))), 1, 8), "
            "x -> x.event_type), '>')"
        ).alias("path")
    )
    c = p.groupBy("path").agg(F.count("*").alias("n_sessions"))
    rk = c.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("n_sessions"), F.asc("path"))),
    )
    return rk.filter(F.col("rk") <= 20).select(
        "path", F.col("n_sessions").cast("long"), F.col("rk").cast("int")
    )


# --- Heaps' law: vocabulary growth along the corpus ----------------------------

_HEAPS_K = 20  # checkpoint every K docs


def _heaps_oracle() -> str:
    fs = P.floor_scaled_sql
    return f"""
    WITH toks AS (SELECT doc_id, unnest({P.split_ws('text', P.DUCK)}) AS word
                  FROM documents WHERE length(text) > 0),
    tw AS (SELECT doc_id, word FROM toks WHERE length(word) > 0
           UNION ALL
           SELECT doc_id, 'n' || cast(cast(floor(sqrt(cast(doc_id as double)))
                  as bigint) as string) AS word
           FROM documents WHERE length(text) > 0),
    fd AS (SELECT word, min(doc_id) AS first_doc FROM tw GROUP BY 1),
    tok_per_doc AS (SELECT doc_id, cast(count(*) as bigint) AS n_tok
                    FROM tw GROUP BY 1),
    cp AS (SELECT DISTINCT doc_id AS cp_doc FROM documents
           WHERE doc_id % {_HEAPS_K} = {_HEAPS_K - 1}),
    v AS (SELECT cp.cp_doc, cast(count(*) as bigint) AS vocab_cum
          FROM cp JOIN fd ON fd.first_doc <= cp.cp_doc GROUP BY 1),
    t AS (SELECT cp.cp_doc, cast(sum(d.n_tok) as bigint) AS tokens_cum
          FROM cp JOIN tok_per_doc d ON d.doc_id <= cp.cp_doc GROUP BY 1),
    pts AS (SELECT v.cp_doc, t.tokens_cum, v.vocab_cum,
                   {fs('ln(cast(t.tokens_cum as double))', 6)} AS x_e6,
                   {fs('ln(cast(v.vocab_cum as double))', 6)} AS y_e6
            FROM v JOIN t USING (cp_doc)),
    mom AS (SELECT cast(count(*) as bigint) AS m,
                   cast(sum(x_e6) as bigint) AS sx,
                   cast(sum(y_e6) as bigint) AS sy,
                   cast(sum(x_e6 * y_e6) as bigint) AS sxy,
                   cast(sum(x_e6 * x_e6) as bigint) AS sxx
            FROM pts)
    SELECT pts.cp_doc, pts.tokens_cum, pts.vocab_cum,
      CASE WHEN mom.m >= 2 THEN {fs(
          '(cast(mom.m * mom.sxy - mom.sx * mom.sy as double) / '
          'cast(mom.m * mom.sxx - mom.sx * mom.sx as double))', 6)}
           ELSE cast(0 as bigint) END AS beta_e6
    FROM pts CROSS JOIN mom
    """


@register("q_heaps", _heaps_oracle())
def q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law: cumulative vocabulary vs cumulative tokens at
    every-K-docs checkpoints (first-occurrence doc per word, two bounded
    inequality joins against the checkpoint list), plus the fitted growth
    exponent beta from the same e6-prequantized log-log OLS as q_zipf —
    exact bigint moments, one IEEE division, constant across rows."""
    fs = P.floor_scaled_sql
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tw = d.select(
        "doc_id", F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("word")
    ).filter(F.length("word") > 0).unionAll(
        # vocabulary-growth channel: doc d contributes token n<floor(sqrt(d))>,
        # so vocab ~ sqrt(docs) against linear tokens (Heaps beta ~ 0.5) --
        # the driver corpus's own 31-word vocabulary saturates immediately
        d.select(
            "doc_id",
            F.expr("'n' || cast(cast(floor(sqrt(cast(doc_id as double))) "
                   "as bigint) as string)").alias("word"),
        )
    )
    fd = tw.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    tok = tw.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    cp = (
        load(spark, sf_dir, "documents")
        .filter(F.expr(f"doc_id % {_HEAPS_K} = {_HEAPS_K - 1}"))
        .select(F.col("doc_id").alias("cp_doc"))
        .distinct()
    )
    v = (
        fd.join(F.broadcast(cp), F.col("first_doc") <= F.col("cp_doc"))
        .groupBy("cp_doc")
        .agg(F.count("*").alias("vocab_cum"))
    )
    t = (
        tok.join(F.broadcast(cp), F.col("doc_id") <= F.col("cp_doc"))
        .groupBy("cp_doc")
        .agg(F.sum("n_tok").cast("long").alias("tokens_cum"))
    )
    pts = v.join(t, "cp_doc").select(
        "cp_doc", "tokens_cum", F.col("vocab_cum").cast("long"),
        F.expr(fs("ln(cast(tokens_cum as double))", 6)).alias("x_e6"),
        F.expr(fs("ln(cast(vocab_cum as double))", 6)).alias("y_e6"),
    )
    mom = pts.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x_e6").alias("sx"), F.sum("y_e6").alias("sy"),
        F.sum(F.col("x_e6") * F.col("y_e6")).alias("sxy"),
        F.sum(F.col("x_e6") * F.col("x_e6")).alias("sxx"),
    )
    beta = (
        "CASE WHEN m >= 2 THEN "
        + fs("(cast(m * sxy - sx * sy as double) / "
             "cast(m * sxx - sx * sx as double))", 6)
        + " ELSE cast(0 as bigint) END"
    )
    return pts.crossJoin(F.broadcast(mom)).select(
        "cp_doc", "tokens_cum", "vocab_cum", F.expr(beta).alias("beta_e6")
    )


# --- road-network planarization + topology census ------------------------------


def _mm_road_chains(spark: SparkSession) -> DataFrame:
    """Grid roads as 2-vertex chain features (rebuilt per call — fresh
    plan lineage, which network_topology's crossing self-join needs)."""
    return _mm_roads(spark).select(
        F.col("road_id").alias("line_id"),
        F.expr(
            "array(struct(y1 AS lat, x1 AS lon), struct(y2 AS lat, x2 AS lon))"
        ).alias("vertices"),
    )


def _network_oracle() -> str:
    from gaia_spark.operators.overlay import (
        seg_d_sql, seg_point_sql, seg_tn_sql, seg_un_sql,
    )

    fs = P.floor_scaled_sql
    d = seg_d_sql("ay1", "ax1", "ay2", "ax2", "by1", "bx1", "by2", "bx2")
    tn = seg_tn_sql("ay1", "ax1", "bx1", "by1", "by2", "bx2")
    un = seg_un_sql("ay1", "ax1", "ay2", "ax2", "by1", "bx1")
    iy, ix = seg_point_sql("t", "ay1", "ax1", "ay2", "ax2")
    return f"""
    WITH roads AS (
      SELECT cast(i as bigint) AS road_id,
             cast(-80 + i * 10 as double) AS y1, cast(-180 as double) AS x1,
             cast(-80 + i * 10 as double) AS y2, cast(180 as double) AS x2
      FROM unnest(generate_series(0, 16)) AS t(i)
      UNION ALL
      SELECT cast(100 + j as bigint), cast(-85 as double),
             cast(-175 + j * 10 as double), cast(85 as double),
             cast(-175 + j * 10 as double)
      FROM unnest(generate_series(0, 35)) AS t(j)),
    pr AS (SELECT a.road_id AS na, b.road_id AS nb,
                  a.y1 AS ay1, a.x1 AS ax1, a.y2 AS ay2, a.x2 AS ax2,
                  b.y1 AS by1, b.x1 AS bx1, b.y2 AS by2, b.x2 AS bx2
           FROM roads a JOIN roads b ON a.road_id < b.road_id),
    x0 AS (SELECT *, {d} AS dd FROM pr WHERE {d} <> 0),
    x1 AS (SELECT *, {tn} / dd AS t, {un} / dd AS u FROM x0),
    x2 AS (SELECT * FROM x1 WHERE t >= 0 AND t <= 1 AND u >= 0 AND u <= 1),
    xs AS (SELECT na, nb, {fs('t', 6)} AS t_e6, {fs('u', 6)} AS u_e6,
                  {fs(iy, 6)} AS lat_e6, {fs(ix, 6)} AS lon_e6
           FROM x2),
    cuts AS (
      SELECT DISTINCT * FROM (
        SELECT na AS line_id, t_e6 AS t, lat_e6, lon_e6 FROM xs
        UNION ALL
        SELECT nb, u_e6, lat_e6, lon_e6 FROM xs
        UNION ALL
        SELECT road_id, cast(0 as bigint), {fs('y1', 6)}, {fs('x1', 6)}
        FROM roads
        UNION ALL
        SELECT road_id, cast(1000000 as bigint), {fs('y2', 6)}, {fs('x2', 6)}
        FROM roads) q),
    e AS (SELECT line_id, t, lat_e6, lon_e6,
                 lead(t) OVER w AS nt,
                 lead(lat_e6) OVER w AS nlat, lead(lon_e6) OVER w AS nlon
          FROM cuts WINDOW w AS (PARTITION BY line_id ORDER BY t)),
    edges AS (SELECT line_id, lat_e6, lon_e6, nlat, nlon,
                {fs(P.haversine_m_sql(
                    '(cast(lat_e6 as double) / cast(1000000 as double))',
                    '(cast(lon_e6 as double) / cast(1000000 as double))',
                    '(cast(nlat as double) / cast(1000000 as double))',
                    '(cast(nlon as double) / cast(1000000 as double))'), 0)}
                  AS len_m_e0
              FROM e WHERE nt IS NOT NULL),
    incid AS (SELECT lat_e6, lon_e6 FROM edges
              UNION ALL SELECT nlat, nlon FROM edges),
    nodes AS (SELECT lat_e6, lon_e6, cast(count(*) as bigint) AS degree
              FROM incid GROUP BY 1, 2),
    hist AS (SELECT degree, cast(count(*) as bigint) AS n_nodes
             FROM nodes GROUP BY 1),
    tot AS (SELECT cast(count(*) as bigint) AS n_edges,
                   cast(sum(len_m_e0) as bigint) AS total_len_m FROM edges)
    SELECT hist.degree, hist.n_nodes, tot.n_edges, tot.total_len_m
    FROM hist CROSS JOIN tot
    """


@register("q_network", _network_oracle())
def q_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planarize the grid road layer into a node-edge network (split every
    segment at its crossings) and census the topology: node-degree
    histogram plus edge count and total edge length. The engine uses the
    cell-bucketed crossing generator + windowed cut splitting; the oracle
    brute-forces all segment pairs with the same shared formulas —
    derivation disagreement on candidates, identical arithmetic."""
    from gaia_spark.operators.overlay import network_topology

    edges, nodes = network_topology(
        _mm_road_chains(spark), _mm_road_chains(spark), res=5
    )
    hist = nodes.groupBy("degree").agg(F.count("*").cast("long").alias("n_nodes"))
    tot = edges.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum("len_m_e0").cast("long").alias("total_len_m"),
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "degree", "n_nodes", "n_edges", "total_len_m"
    )


# --- crawl scheduling (politeness slots) ---------------------------------------


@register(
    "q_crawl_schedule",
    f"""
    WITH u AS (SELECT DISTINCT {_TPL_URL} AS url FROM documents),
    h AS (SELECT url, {W.host_sql('url')} AS host FROM u),
    r AS (SELECT host, url,
                 row_number() OVER (PARTITION BY host ORDER BY url) AS rn
          FROM h)
    SELECT host, url, cast(rn as bigint) AS rn,
           cast((rn - 1) // 4 as bigint) AS slot
    FROM r
    """,
)
def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling: round-robin fetch slots of 4 URLs per host
    per slot — the per-host rate limit every crawler needs. One
    host-partitioned window; slot derives from the row number, no second
    shuffle."""
    u = (
        load(spark, sf_dir, "documents")
        .select(F.expr(_TPL_URL).alias("url"))
        .distinct()
    )
    h = u.select("url", F.expr(W.host_sql("url")).alias("host"))
    w = Window.partitionBy("host").orderBy("url")
    r = h.withColumn("rn", F.row_number().over(w))
    return r.select(
        "host", "url", F.col("rn").cast("long"),
        F.expr("cast((rn - 1) div 4 as bigint)").alias("slot"),
    )


# --- language-ID confusion matrix ----------------------------------------------


@register(
    "q_lang_confusion",
    f"""
    WITH p AS (SELECT lang, {T.lang_id_sql('text')} AS lang_pred
               FROM documents WHERE length(text) > 0),
    c AS (SELECT lang, lang_pred, cast(count(*) as bigint) AS n
          FROM p GROUP BY 1, 2),
    t AS (SELECT lang, cast(sum(n) as bigint) AS tot FROM c GROUP BY 1)
    SELECT c.lang, c.lang_pred, c.n,
           {P.floor_scaled_sql('(cast(c.n as double) / cast(t.tot as double))', 6)}
             AS share_e6
    FROM c JOIN t USING (lang)
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the corpus's labeled
    lang vs the n-gram-marker classifier (lang_id_sql), with per-true-lang
    shares — the model-eval query of a curation pipeline. Map-only scoring
    + a langs²-bounded aggregate."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    p = d.select("lang", F.expr(T.lang_id_sql("text")).alias("lang_pred"))
    c = p.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
    t = c.groupBy("lang").agg(F.sum("n").cast("long").alias("tot"))
    return c.join(F.broadcast(t), "lang").select(
        "lang", "lang_pred", F.col("n").cast("long"),
        F.expr(P.floor_scaled_sql(
            "(cast(n as double) / cast(tot as double))", 6)).alias("share_e6"),
    )


# --- exact distributed quantiles -----------------------------------------------


@register(
    "q_quantiles",
    f"""
    WITH r AS (SELECT event_type, value, event_id,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM events),
    p AS (SELECT event_type, cast(n as bigint) AS n,
                 max(CASE WHEN rn = (n - 1) // 2 + 1
                     THEN {P.floor_scaled_sql('value', 2)} END) AS p50_e2,
                 max(CASE WHEN rn = ((n - 1) * 9) // 10 + 1
                     THEN {P.floor_scaled_sql('value', 2)} END) AS p90_e2,
                 max(CASE WHEN rn = ((n - 1) * 99) // 100 + 1
                     THEN {P.floor_scaled_sql('value', 2)} END) AS p99_e2
          FROM r GROUP BY 1, 2)
    SELECT event_type, n, p50_e2, p90_e2, p99_e2 FROM p
    """,
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of event value per type — rank-picked (lower
    empirical quantile, (n-1)·p floor + 1) with an (value, event_id) total
    order so ties never flip engines; the approx twin is
    q_distinct_users' approx family. One window shuffle per type
    partition, conditional-agg pick, no collect."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    r = e.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wc)
    )
    fs = P.floor_scaled_sql
    p = r.groupBy("event_type", F.col("n").cast("long").alias("n")).agg(
        F.max(F.expr(
            f"CASE WHEN rn = (n - 1) div 2 + 1 THEN {fs('value', 2)} END"
        )).alias("p50_e2"),
        F.max(F.expr(
            f"CASE WHEN rn = ((n - 1) * 9) div 10 + 1 THEN {fs('value', 2)} END"
        )).alias("p90_e2"),
        F.max(F.expr(
            f"CASE WHEN rn = ((n - 1) * 99) div 100 + 1 THEN {fs('value', 2)} END"
        )).alias("p99_e2"),
    )
    return p.select("event_type", "n", "p50_e2", "p90_e2", "p99_e2")


# --- embedding label centroids + pairwise cosine --------------------------------

_EMB_SHIFT = 10_000_000  # +10.0 in e6: keeps shifted components non-negative


@register(
    "q_embed_centroids",
    f"""
    WITH x AS (SELECT label, i AS pos,
                      {P.floor_scaled_sql('cast(embedding[i] as double)', 6)}
                        AS q
               FROM embeddings,
                    unnest(generate_series(1, len(embedding))) AS t(i)),
    c AS (SELECT label, pos,
                 cast((sum(q + {_EMB_SHIFT}) // count(*)) - {_EMB_SHIFT}
                      as bigint) AS c_e6,
                 cast(count(*) as bigint) AS n
          FROM x GROUP BY 1, 2),
    pr AS (SELECT a.label AS label_a, b.label AS label_b,
                  cast(sum(a.c_e6 * b.c_e6) as bigint) AS dot,
                  cast(sum(a.c_e6 * a.c_e6) as bigint) AS na,
                  cast(sum(b.c_e6 * b.c_e6) as bigint) AS nb,
                  min(a.n) AS n_a, min(b.n) AS n_b
           FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
           GROUP BY 1, 2)
    SELECT label_a, label_b, n_a, n_b,
           CASE WHEN na = 0 OR nb = 0 THEN cast(0 as bigint) ELSE
             {P.floor_scaled_sql(
                 '(cast(dot as double) / sqrt(cast(na as double) '
                 '* cast(nb as double)))', 6)} END AS cos_e6
    FROM pr
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (exact: e6-prequantized components,
    shifted-non-negative integer mean) and the pairwise inter-centroid
    cosine — the class-separation diagnostic of an embedding space. The
    explode shuffles on (label, dim) — bounded by labels x dims — and the
    pair join runs over the tiny centroid table."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("pos", "_v")
    ).select(
        "label", "pos",
        F.expr(fs("cast(_v as double)", 6)).alias("q"),
    )
    c = x.groupBy("label", "pos").agg(
        F.expr(
            f"cast(((sum(q + {_EMB_SHIFT})) div count(*)) - {_EMB_SHIFT} "
            "as bigint)"
        ).alias("c_e6"),
        F.count("*").cast("long").alias("n"),
    )
    a = c.select(
        F.col("label").alias("label_a"), F.col("pos").alias("_pa"),
        F.col("c_e6").alias("_ca"), F.col("n").alias("_na_cnt"),
    )
    b = c.select(
        F.col("label").alias("label_b"), F.col("pos").alias("_pb"),
        F.col("c_e6").alias("_cb"), F.col("n").alias("_nb_cnt"),
    )
    pr = (
        a.join(b, (F.col("_pa") == F.col("_pb"))
               & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("_ca") * F.col("_cb")).alias("dot"),
            F.sum(F.col("_ca") * F.col("_ca")).alias("na"),
            F.sum(F.col("_cb") * F.col("_cb")).alias("nb"),
            F.min("_na_cnt").alias("n_a"),
            F.min("_nb_cnt").alias("n_b"),
        )
    )
    cos = (
        "CASE WHEN na = 0 OR nb = 0 THEN cast(0 as bigint) ELSE "
        + fs("(cast(dot as double) / sqrt(cast(na as double) "
             "* cast(nb as double)))", 6)
        + " END"
    )
    return pr.select(
        "label_a", "label_b", "n_a", "n_b", F.expr(cos).alias("cos_e6")
    )


# --- equal-area projection family ----------------------------------------------

from gaia_spark.functions import crs as C  # noqa: E402

_LAEA = C.laea_xy_sql("lat", "lon", 40.0, 10.0)
_SINU = C.sinusoidal_xy_sql("lat", "lon", 0.0)
_ALB = C.albers_xy_sql("lat", "lon", 23.0, -96.0, 29.5, 45.5)


@register(
    "q_project_family",
    f"""
    WITH pts AS (SELECT c_custkey, {P.key_lat_sql('c_custkey')} AS lat,
                        {P.key_lon_sql('c_custkey')} AS lon FROM customer)
    SELECT c_custkey,
           {P.floor_scaled_sql(_LAEA[0], 3)} AS laea_x_mm,
           {P.floor_scaled_sql(_LAEA[1], 3)} AS laea_y_mm,
           {P.floor_scaled_sql(_SINU[0], 3)} AS sinu_x_mm,
           {P.floor_scaled_sql(_SINU[1], 3)} AS sinu_y_mm,
           {P.floor_scaled_sql(_ALB[0], 3)} AS alb_x_mm,
           {P.floor_scaled_sql(_ALB[1], 3)} AS alb_y_mm
    FROM pts
    """,
)
def q_project_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-area projection family (Snyder spherical closed forms):
    Lambert azimuthal (centered 40N 10E), sinusoidal, and Albers conic
    (CONUS parallels) of every customer point, mm-quantized. Map-only -
    each projection is ONE shared trig expression, the engine's
    GDAL-free reprojection convention extended beyond Mercator/UTM."""
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(P.key_lat_sql("c_custkey")).alias("lat"),
        F.expr(P.key_lon_sql("c_custkey")).alias("lon"),
    )
    return pts.select(
        "c_custkey",
        F.expr(P.floor_scaled_sql(_LAEA[0], 3)).alias("laea_x_mm"),
        F.expr(P.floor_scaled_sql(_LAEA[1], 3)).alias("laea_y_mm"),
        F.expr(P.floor_scaled_sql(_SINU[0], 3)).alias("sinu_x_mm"),
        F.expr(P.floor_scaled_sql(_SINU[1], 3)).alias("sinu_y_mm"),
        F.expr(P.floor_scaled_sql(_ALB[0], 3)).alias("alb_x_mm"),
        F.expr(P.floor_scaled_sql(_ALB[1], 3)).alias("alb_y_mm"),
    )


# --- k-means cluster purity vs labels ------------------------------------------


def _purity_oracle() -> str:
    from gaia_spark.operators.clustering import kmeans_oracle_ctes as _kmeans_ctes

    fs = P.floor_scaled_sql
    return f"""
    WITH {_kmeans_ctes()},
    j AS (SELECT a.cid, e.label FROM asg a
          JOIN embeddings e ON e.vec_id = a.vec_id),
    cl AS (SELECT cid, label, cast(count(*) as bigint) AS n FROM j GROUP BY 1, 2),
    tot AS (SELECT cid, cast(sum(n) as bigint) AS n_cluster FROM cl GROUP BY 1),
    mj AS (SELECT cid, label AS major_label, n AS n_major FROM
             (SELECT *, row_number() OVER (PARTITION BY cid
                ORDER BY n DESC, label ASC) AS rk FROM cl) q WHERE rk = 1),
    ov AS (SELECT cast(sum(n_major) as bigint) AS s_major,
                  cast(sum(n_cluster) as bigint) AS s_all
           FROM mj JOIN tot USING (cid))
    SELECT mj.cid, cast(mj.major_label as int) AS major_label, mj.n_major,
           tot.n_cluster,
           {fs('(cast(mj.n_major as double) / cast(tot.n_cluster as double))', 6)}
             AS purity_e6,
           {fs('(cast(ov.s_major as double) / cast(ov.s_all as double))', 6)}
             AS overall_purity_e6
    FROM mj JOIN tot USING (cid) CROSS JOIN ov
    """


@register("q_cluster_purity", _purity_oracle())
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation: purity of the deterministic k-means
    clusters against the embeddings' ground-truth labels — per-cluster
    majority label (count-then-label tie-break) and share, plus the
    overall purity constant. Chains the full kmeans machinery the oracle
    already replays; the evaluation adds one broadcast-scale join and
    two k-bounded aggregates."""
    from gaia_spark.operators.clustering import kmeans_assign

    emb = load(spark, sf_dir, "embeddings")
    asg = kmeans_assign(emb, k=8, n_rounds=3)
    j = asg.join(emb.select("vec_id", "label"), "vec_id")
    cl = j.groupBy("cid", "label").agg(F.count("*").alias("n"))
    tot = cl.groupBy("cid").agg(F.sum("n").cast("long").alias("n_cluster"))
    w = Window.partitionBy("cid").orderBy(F.desc("n"), F.asc("label"))
    mj = (
        cl.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cid", F.col("label").cast("int").alias("major_label"),
            F.col("n").cast("long").alias("n_major"),
        )
    )
    base = mj.join(tot, "cid")
    ov = base.agg(
        F.sum("n_major").cast("long").alias("s_major"),
        F.sum("n_cluster").cast("long").alias("s_all"),
    )
    fs = P.floor_scaled_sql
    return base.crossJoin(F.broadcast(ov)).select(
        "cid", "major_label", "n_major", "n_cluster",
        F.expr(fs("(cast(n_major as double) / cast(n_cluster as double))", 6)
               ).alias("purity_e6"),
        F.expr(fs("(cast(s_major as double) / cast(s_all as double))", 6)
               ).alias("overall_purity_e6"),
    )


# --- link-graph reciprocity -----------------------------------------------------


def _reciprocity_oracle() -> str:
    _link_edges_ctes = W.link_edges_oracle_ctes

    fs = P.floor_scaled_sql
    return f"""
    WITH {_link_edges_ctes()},
    g AS (SELECT DISTINCT src_host, dst_host FROM e
          WHERE dst_host IS NOT NULL AND src_host <> dst_host),
    m AS (SELECT cast(count(*) as bigint) AS n_mutual
          FROM g a JOIN g b ON a.src_host = b.dst_host
                           AND a.dst_host = b.src_host),
    t AS (SELECT cast(count(*) as bigint) AS n_edges FROM g)
    SELECT t.n_edges, m.n_mutual,
           CASE WHEN t.n_edges = 0 THEN cast(0 as bigint) ELSE
             {fs('(cast(m.n_mutual as double) / cast(t.n_edges as double))', 6)}
           END AS reciprocity_e6
    FROM t CROSS JOIN m
    """


@register("q_reciprocity", _reciprocity_oracle())
def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph reciprocity: share of distinct host→host edges whose
    reverse edge also exists (self-loops excluded) — the classic web-graph
    health metric. One distinct pass + one self equi-join on the
    host-pair key."""
    g = (
        W.link_host_edges(load(spark, sf_dir, "documents"))
        .filter(F.col("dst_host").isNotNull()
                & (F.col("src_host") != F.col("dst_host")))
        .distinct()
    )
    rev = g.select(
        F.col("src_host").alias("_rs"), F.col("dst_host").alias("_rd")
    )
    m = g.join(
        rev, (F.col("src_host") == F.col("_rd"))
        & (F.col("dst_host") == F.col("_rs"))
    ).agg(F.count("*").cast("long").alias("n_mutual"))
    t = g.agg(F.count("*").cast("long").alias("n_edges"))
    fs = P.floor_scaled_sql
    rec = (
        "CASE WHEN n_edges = 0 THEN cast(0 as bigint) ELSE "
        + fs("(cast(n_mutual as double) / cast(n_edges as double))", 6)
        + " END"
    )
    return t.crossJoin(m).select(
        "n_edges", "n_mutual", F.expr(rec).alias("reciprocity_e6")
    )


# --- A/B test (two-proportion z) ------------------------------------------------


@register(
    "q_ab_test",
    f"""
    WITH u AS (SELECT user_id, cast(user_id % 2 as int) AS arm,
                      max(CASE WHEN event_type = 'purchase' AND event_id % 7 = 0
                          THEN 1 ELSE 0 END) AS converted
               FROM events GROUP BY 1, 2),
    s AS (SELECT cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) as bigint) AS n_a,
                 cast(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) as bigint)
                   AS c_a,
                 cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) as bigint) AS n_b,
                 cast(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) as bigint)
                   AS c_b
          FROM u)
    SELECT n_a, c_a, n_b, c_b,
      {P.floor_scaled_sql('(cast(c_a as double) / cast(n_a as double))', 6)}
        AS conv_a_e6,
      {P.floor_scaled_sql('(cast(c_b as double) / cast(n_b as double))', 6)}
        AS conv_b_e6,
      CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b
           THEN cast(0 as bigint) ELSE
      {P.floor_scaled_sql(
          '((cast(c_a as double) / cast(n_a as double) '
          '- cast(c_b as double) / cast(n_b as double)) '
          '/ sqrt((cast(c_a + c_b as double) / cast(n_a + n_b as double)) '
          '* (1 - cast(c_a + c_b as double) / cast(n_a + n_b as double)) '
          '* (cast(1 as double) / cast(n_a as double) '
          '+ cast(1 as double) / cast(n_b as double))))', 6)} END
        AS z_e6
    FROM s
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between user-id-parity arms on purchase
    conversion — the experimentation primitive: per-user conversion flags
    (one user-keyed agg), four exact counts, one shared IEEE chain for
    the pooled-variance z. Conversion = a qualifying purchase
    (event_id % 7 = 0) so rates sit strictly inside (0, 1) at driver SFs;
    the all-or-none pooled case (denominator 0) is guarded to z = 0 on
    exact integer counts."""
    e = load(spark, sf_dir, "events")
    u = e.groupBy(
        "user_id", F.expr("cast(user_id % 2 as int)").alias("arm")
    ).agg(
        F.max(
            F.expr("CASE WHEN event_type = 'purchase' AND event_id % 7 = 0 THEN 1 ELSE 0 END")
        ).alias("converted")
    )
    s = u.agg(
        F.expr("cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) as bigint)")
        .alias("n_a"),
        F.expr("cast(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) as bigint)")
        .alias("c_a"),
        F.expr("cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) as bigint)")
        .alias("n_b"),
        F.expr("cast(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) as bigint)")
        .alias("c_b"),
    )
    fs = P.floor_scaled_sql
    z = (
        "((cast(c_a as double) / cast(n_a as double) "
        "- cast(c_b as double) / cast(n_b as double)) "
        "/ sqrt((cast(c_a + c_b as double) / cast(n_a + n_b as double)) "
        "* (1 - cast(c_a + c_b as double) / cast(n_a + n_b as double)) "
        "* (cast(1 as double) / cast(n_a as double) "
        "+ cast(1 as double) / cast(n_b as double))))"
    )
    return s.select(
        "n_a", "c_a", "n_b", "c_b",
        F.expr(fs("(cast(c_a as double) / cast(n_a as double))", 6))
        .alias("conv_a_e6"),
        F.expr(fs("(cast(c_b as double) / cast(n_b as double))", 6))
        .alias("conv_b_e6"),
        F.expr(
            "CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b "
            "THEN cast(0 as bigint) ELSE " + fs(z, 6) + " END"
        ).alias("z_e6"),
    )


# --- Strahler stream order ------------------------------------------------------


def _strahler_oracle() -> str:
    from gaia_spark.operators.hydrology import d8_pivot_cte, d8_step_sql

    n_px = 64
    return f"""
    WITH RECURSIVE {d8_pivot_cte(1)},
    nodes AS (SELECT r * {n_px} + c AS v, r, c, dir FROM dd),
    tgt AS (SELECT v, (r + {d8_step_sql(0)}) * {n_px}
                      + ((c + {d8_step_sql(1)} + {n_px}) % {n_px}) AS nxt
            FROM nodes WHERE dir > 0),
    edges AS (SELECT t.v, t.nxt FROM tgt t JOIN nodes n ON t.nxt = n.v),
    nch AS (SELECT nxt AS v, cast(count(*) as bigint) AS n_children
            FROM edges GROUP BY 1),
    st AS (
      SELECT n.v, 1 AS ord,
             CASE WHEN nch.v IS NULL THEN 1 ELSE 0 END AS fin
      FROM nodes n LEFT JOIN nch ON nch.v = n.v
      UNION ALL
      SELECT q.v,
             CASE WHEN q.self_fin = 1 THEN q.self_ord
                  WHEN q.n_rep = nch2.n_children THEN
                    CASE WHEN len(q.top2) >= 2 AND q.top2[1] = q.top2[2]
                         THEN q.top2[1] + 1 ELSE q.top2[1] END
                  ELSE q.self_ord END AS ord,
             CASE WHEN q.self_fin = 1
                  OR q.n_rep = nch2.n_children THEN 1 ELSE 0 END AS fin
      FROM (
        SELECT g.*, sum(CASE WHEN g.self_fin = 0 THEN 1 ELSE 0 END)
                      OVER () AS old_unfin
        FROM (
          SELECT u.tgt AS v,
                 max(CASE WHEN u.k = 1 THEN u.o END) AS self_ord,
                 max(CASE WHEN u.k = 1 THEN u.f END) AS self_fin,
                 count(CASE WHEN u.k = 0 THEN 1 END) AS n_rep,
                 list_reverse_sort(list(u.o) FILTER (WHERE u.k = 0)) AS top2
          FROM st
          LEFT JOIN edges e ON e.v = st.v AND st.fin = 1,
          UNNEST(CASE WHEN st.fin = 1 AND e.nxt IS NOT NULL THEN [
              {{'tgt': st.v, 'k': 1, 'o': st.ord, 'f': st.fin}},
              {{'tgt': e.nxt, 'k': 0, 'o': st.ord, 'f': 1}}
            ] ELSE [
              {{'tgt': st.v, 'k': 1, 'o': st.ord, 'f': st.fin}}
            ] END) AS t(u)
          GROUP BY u.tgt
        ) g
      ) q LEFT JOIN nch nch2 ON nch2.v = q.v
      WHERE q.old_unfin > 0
    ),
    fino AS (SELECT v, max(struct_pack(f := fin, o := ord)) AS s
             FROM st GROUP BY 1)
    SELECT n.r, n.c, cast((fino.s).o as int) AS strahler
    FROM fino JOIN nodes n ON n.v = fino.v
    """


@register("q_strahler", _strahler_oracle())
def q_strahler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strahler stream order of the zoom-0 D8 drainage network
    (hydrology.strahler_order docstring for the peel shape). The oracle
    replays the finalize-by-readiness iteration as ONE recursive CTE:
    each round every cell emits its own state plus — once finalized — a
    report row to its parent (the frechet unnest idiom), parents with a
    full report set take max(top-2) with the +1 tie rule, and the
    recursion stops the round after the last cell finalizes."""
    from gaia_spark.operators.hydrology import flow_direction, strahler_order
    from gaia_spark.synth import synth_raster

    raster = synth_raster(spark, zooms=(0,), bands=(0,))
    return strahler_order(flow_direction(raster, zoom=0), zoom=0)


# --- seasonal anomaly detection (exact-integer z test) --------------------------


@register(
    "q_anomaly",
    f"""
    WITH b AS (SELECT event_type,
                      {_DAY_DUCK} AS day,
                      cast(floor(date_part('epoch', ts) / 3600) % 24 as bigint)
                        AS hour,
                      cast(count(*) as bigint) AS n
               FROM events GROUP BY 1, 2, 3),
    m AS (SELECT event_type, hour, cast(count(*) as bigint) AS cnt,
                 cast(sum(n) as bigint) AS s, cast(sum(n * n) as bigint) AS s2
          FROM b GROUP BY 1, 2)
    SELECT b.event_type, b.day, b.hour, b.n,
           (m.cnt >= 3 AND
            m.cnt * (b.n * m.cnt - m.s) * (b.n * m.cnt - m.s)
              > 9 * m.cnt * (m.cnt * m.s2 - m.s * m.s)) AS is_anomaly
    FROM b JOIN m ON m.event_type = b.event_type AND m.hour = b.hour
    """,
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection on the event stream: per (type, day,
    hour) bucket counts vs the same-hour-of-day profile across the month;
    a bucket is anomalous when |n − mean| > 3σ. ENTIRELY exact-bigint —
    the z test is the cross-multiplied inequality
    cnt·(n·cnt − Σ)² > 9·cnt·(cnt·Σx² − Σ²), so no float ever decides the
    flag (the viewshed discipline applied to time series). Two
    type×hour-bounded aggregates, no window."""
    e = load(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type",
        F.expr(_DAY_SPARK).alias("day"),
        F.expr(
            "cast(floor(cast(cast(ts as timestamp) as double) / 3600) % 24 "
            "as bigint)"
        ).alias("hour"),
    ).agg(F.count("*").alias("n"))
    m = b.groupBy("event_type", "hour").agg(
        F.count("*").alias("cnt"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    # int64 headroom (ADVICE r5): the largest term is cnt·(n·cnt − s)² ≤
    # cnt³·n_max² with cnt ≤ 366 days/bucket, so n_max (events per
    # type×hour×day) must stay ≤ √(2⁶³/366³) ≈ 4.3e5 for the cross-
    # multiplied test to fit int64 — Spark wraps silently past it where
    # DuckDB raises. The events fixture peaks at ~10² per bucket (three
    # orders of headroom); re-derive via doubles of the bigint moments
    # (the q_burstiness pattern) before pointing this at denser feeds.
    return b.join(F.broadcast(m), ["event_type", "hour"]).select(
        "event_type", "day", "hour", F.col("n").cast("long").alias("n"),
        F.expr(
            "cnt >= 3 AND cnt * (n * cnt - s) * (n * cnt - s) "
            "> 9 * cnt * (cnt * s2 - s * s)"
        ).alias("is_anomaly"),
    )


# --- linear referencing (route-corridor dynamic segmentation) -------------------

_LR_BIN_M = 200_000.0  # 200 km along-track bins


@register(
    "q_linear_ref",
    f"""
    WITH pts AS (SELECT c_custkey, {P.key_lat_sql('c_custkey')} AS lat,
                        {P.key_lon_sql('c_custkey')} AS lon FROM customer),
    x AS (SELECT c_custkey, {_XT} AS dxt, {_AT} AS dat FROM pts),
    corr AS (SELECT * FROM x
             WHERE abs(dxt) <= 500000.0 AND dat >= 0
               AND dat <= {P.haversine_m_sql(
                   _RT['lat1'], _RT['lon1'], _RT['lat2'], _RT['lon2'])}),
    b AS (SELECT cast(floor(dat / {_LR_BIN_M}) as bigint) AS bin,
                 cast(count(*) as bigint) AS n_points,
                 sum({P.floor_scaled_sql('dxt', 3)}) AS sxt
          FROM corr GROUP BY 1)
    SELECT bin, n_points,
           cast({P.bigint_div('(sxt + n_points * 1000000000)',
                              'n_points', P.DUCK)} - 1000000000 as bigint)
             AS mean_xt_mm
    FROM b
    """,
)
def q_linear_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing / dynamic segmentation: points inside a 500 km
    corridor of the fixed great-circle route are binned by ALONG-TRACK
    distance (200 km bins) with the exact-integer mean signed cross-track
    offset per bin — the route-milepost aggregation of corridor
    analytics. Map-only scoring + one bin-keyed aggregate; the mm-sum is
    shifted non-negative for the exact division macro."""
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(P.key_lat_sql("c_custkey")).alias("lat"),
        F.expr(P.key_lon_sql("c_custkey")).alias("lon"),
    )
    route_len = P.haversine_m_sql(
        _RT["lat1"], _RT["lon1"], _RT["lat2"], _RT["lon2"]
    )
    x = pts.select(
        "c_custkey", F.expr(_XT).alias("dxt"), F.expr(_AT).alias("dat")
    )
    corr = x.filter(
        (F.abs(F.col("dxt")) <= 500000.0)
        & (F.col("dat") >= 0)
        & (F.col("dat") <= F.expr(route_len))
    )
    b = corr.groupBy(
        F.expr(f"cast(floor(dat / {_LR_BIN_M}) as bigint)").alias("bin")
    ).agg(
        F.count("*").alias("n_points"),
        F.sum(F.expr(P.floor_scaled_sql("dxt", 3))).alias("sxt"),
    )
    return b.select(
        "bin", F.col("n_points").cast("long").alias("n_points"),
        F.expr(
            "cast(((sxt + n_points * 1000000000) div n_points) "
            "- 1000000000 as bigint)"
        ).alias("mean_xt_mm"),
    )


# --- topographic wetness index (flow accumulation ∘ Horn slope) -----------------

_TWI_EPS = "(cast(1 as double) / cast(1000000 as double))"
_TWI_GRAD = (
    "(sqrt(cast(gx_e4 * gx_e4 + gy_e4 * gy_e4 as double)) "
    "/ cast(80000 as double))"
)
_TWI = (
    f"(ln(cast(acc + 1 as double) / greatest({_TWI_GRAD}, {_TWI_EPS})))"
)


def _twi_oracle() -> str:
    from gaia_spark.operators.hydrology import d8_pivot_cte, d8_step_sql

    n_px = 4 * 64
    return f"""
    WITH RECURSIVE {d8_pivot_cte(4)},
    nodes AS (SELECT r * {n_px} + c AS v, r, c, dir FROM dd),
    tgt AS (SELECT v, (r + {d8_step_sql(0)}) * {n_px}
                      + ((c + {d8_step_sql(1)} + {n_px}) % {n_px}) AS nxt
            FROM nodes WHERE dir > 0),
    edges AS (SELECT t.v, t.nxt FROM tgt t JOIN nodes n ON t.nxt = n.v),
    reach(u, x) AS (
      SELECT v, nxt FROM edges
      UNION
      SELECT r.u, e.nxt FROM reach r JOIN edges e ON r.x = e.v
    ),
    facc AS (SELECT x AS v, cast(count(*) as bigint) AS acc FROM reach GROUP BY 1),
    hsc AS (SELECT r + dr AS tr, (c + dc + {n_px}) % {n_px} AS tc,
                   v_e4 * (-dc) * (2 - abs(dr)) AS wx,
                   v_e4 * (-dr) * (2 - abs(dc)) AS wy
            FROM pv CROSS JOIN offs
            WHERE r + dr >= 0 AND r + dr < {n_px}),
    hag AS (SELECT tr, tc, count(*) AS n_nb,
                   cast(sum(wx) as bigint) AS gx_e4,
                   cast(sum(wy) as bigint) AS gy_e4
            FROM hsc GROUP BY tr, tc),
    j AS (SELECT n.r, n.c, coalesce(f.acc, 0) AS acc, h.gx_e4, h.gy_e4
          FROM nodes n LEFT JOIN facc f ON f.v = n.v
          JOIN hag h ON h.tr = n.r AND h.tc = n.c AND h.n_nb = 9)
    SELECT r, c, acc, {P.floor_scaled_sql(_TWI, 6)} AS twi_e6
    FROM j
    """


@register("q_twi", _twi_oracle())
def q_twi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topographic wetness index ln((acc+1) / tan β) over the zoom-2 grid
    — the classic hydrology composition: D8 flow accumulation (closure
    path) joined with the Horn gradient, one shared IEEE ln over exact
    bigint inputs (clamped tan β so flats don't blow up). Two green
    operators, one chained oracle."""
    from gaia_spark.operators.hydrology import flow_accumulation, flow_direction
    from gaia_spark.operators.raster import slope_aspect
    from gaia_spark.synth import synth_raster

    raster = synth_raster(spark, zooms=(2,), bands=(0,))
    fa = flow_accumulation(flow_direction(raster, zoom=2), zoom=2).select(
        "r", "c", "acc"
    )
    sl = slope_aspect(raster, zoom=2).select("r", "c", "gx_e4", "gy_e4")
    j = fa.join(sl, ["r", "c"])
    return j.select(
        "r", "c", F.col("acc").cast("long").alias("acc"),
        F.expr(P.floor_scaled_sql(_TWI, 6)).alias("twi_e6"),
    )


# --- gravity-model deterrence fit ----------------------------------------------


def _gravity_oracle() -> str:
    fs = P.floor_scaled_sql
    n = 1 << 4
    fy = P.bigint_div("cell_from", str(n), P.DUCK)
    fx = f"(cell_from % {n})"
    ty_ = P.bigint_div("cell_to", str(n), P.DUCK)
    tx_ = f"(cell_to % {n})"
    dist = P.haversine_m_sql(
        P.cell_center_lat_sql(fy, 4), P.cell_center_lon_sql(fx, 4),
        P.cell_center_lat_sql(ty_, 4), P.cell_center_lon_sql(tx_, 4),
    )
    return f"""
    WITH e AS (SELECT user_id, ts, event_id, {P.key_lat_sql('event_id')} AS lat,
                      {P.key_lon_sql('event_id')} AS lon FROM events),
    p AS (SELECT user_id, lat, lon, lag(lat) OVER w AS prev_lat,
                 lag(lon) OVER w AS prev_lon FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    flows AS (SELECT {P.cell_id_sql('prev_lat', 'prev_lon', 4)} AS cell_from,
                     {P.cell_id_sql('lat', 'lon', 4)} AS cell_to,
                     cast(count(*) as bigint) AS n_trips
              FROM p WHERE prev_lat IS NOT NULL GROUP BY 1, 2),
    q AS (SELECT {fs('ln((' + dist + ') / cast(1000 as double))', 3)} AS x_e3,
                 {fs('ln(cast(n_trips as double))', 3)} AS y_e3
          FROM flows WHERE cell_from <> cell_to),
    s AS (SELECT cast(count(*) as bigint) AS m,
                 cast(sum(x_e3) as bigint) AS sx, cast(sum(y_e3) as bigint) AS sy,
                 cast(sum(x_e3 * y_e3) as bigint) AS sxy,
                 cast(sum(x_e3 * x_e3) as bigint) AS sxx
          FROM q)
    SELECT m AS n_pairs,
      {fs('(cast(m * sxy - sx * sy as double) / cast(m * sxx - sx * sx as double))', 6)}
        AS beta_e6
    FROM s
    """


@register("q_gravity_fit", _gravity_oracle())
def q_gravity_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity-model deterrence exponent: log-log OLS of inter-cell OD
    flows on great-circle distance between cell centers (the calibration
    step IPF/Huff consume) — exact-moment OLS on e3-prequantized
    ln(km)/ln(n) (coarser than q_zipf's e6 because m here is cells²-
    bounded and m·Σxy must stay inside int64). Negative beta = distance
    decay."""
    from gaia_spark.operators.trajectory import od_flows

    fs = P.floor_scaled_sql
    n = 1 << 4
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.expr(P.key_lat_sql("event_id")).alias("lat"),
        F.expr(P.key_lon_sql("event_id")).alias("lon"),
    )
    flows = od_flows(e, res=4).filter(F.col("cell_from") != F.col("cell_to"))
    fy = P.bigint_div("cell_from", str(n), P.SPARK)
    fx = f"(cell_from % {n})"
    ty_ = P.bigint_div("cell_to", str(n), P.SPARK)
    tx_ = f"(cell_to % {n})"
    dist = P.haversine_m_sql(
        P.cell_center_lat_sql(fy, 4), P.cell_center_lon_sql(fx, 4),
        P.cell_center_lat_sql(ty_, 4), P.cell_center_lon_sql(tx_, 4),
    )
    q = flows.select(
        F.expr(fs(f"ln(({dist}) / cast(1000 as double))", 3)).alias("x_e3"),
        F.expr(fs("ln(cast(n_trips as double))", 3)).alias("y_e3"),
    )
    s = q.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x_e3").alias("sx"), F.sum("y_e3").alias("sy"),
        F.sum(F.col("x_e3") * F.col("y_e3")).alias("sxy"),
        F.sum(F.col("x_e3") * F.col("x_e3")).alias("sxx"),
    )
    return s.select(
        F.col("m").alias("n_pairs"),
        F.expr(fs(
            "(cast(m * sxy - sx * sy as double) "
            "/ cast(m * sxx - sx * sx as double))", 6)).alias("beta_e6"),
    )


# --- flagship pipeline, oracle-paired ------------------------------------------
#
# entry() runs this same chain as the driver's rows-only smoke; this twin
# makes the END-TO-END composition hash-checked: pages → frozen-grammar
# geoparse → res-8 cell encode → rect-zone within join → per-(zone, lang)
# rollup with page count, distinct-cell count and summed quality score.


def _flagship_oracle() -> str:
    from gaia_spark.functions import text as TT
    from gaia_spark.queries import GEOPARSE_RE2, ZONES_CTE, _PAGES_CTE

    fs = P.floor_scaled_sql
    q = TT.quality_score_sql("text", P.DUCK)
    # the shared pages CTE carries (url, text); this chain also needs lang
    pages_l = _PAGES_CTE.replace("FROM documents)", ", lang FROM documents)")
    return f"""
    WITH {pages_l}, {ZONES_CTE},
    g AS (SELECT url, lang, {q} AS quality,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 3), '')
                      as double) AS lat,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 4), '')
                      as double) AS lon
          FROM pages),
    pts AS (SELECT url, lang, quality, lat, lon,
                   {P.cell_id_sql('lat', 'lon', 8)} AS cell
            FROM g WHERE lat IS NOT NULL),
    j AS (SELECT z.zone_id, p.lang, p.url, p.cell, p.quality
          FROM pts p JOIN zones z
            ON p.lat >= z.min_lat AND p.lat <= z.max_lat
           AND p.lon >= z.min_lon AND p.lon <= z.max_lon)
    SELECT zone_id, lang, cast(count(*) as bigint) AS n_pages,
           cast(count(distinct cell) as bigint) AS n_cells,
           cast(sum({fs('quality', 2)}) as bigint) AS quality_sum_e2
    FROM j GROUP BY 1, 2
    """


@register("q_flagship_pipeline", _flagship_oracle())
def q_flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star chain, hash-checked end to end: pages-shaped table →
    Arrow geoparse (frozen grammar v1) → res-8 cell encode → cell-bucketed
    broadcast intersects-join against the 14-zone layer (inclusive
    boundaries, the entry() predicate) → per-(zone, lang)
    rollup (pages, distinct cells, summed e2 quality). entry() runs the
    same composition as the driver's smoke; this twin pins every stage's
    VALUES against the DuckDB replay (RE2 mirror, rect containment,
    shared quality heuristic)."""
    from gaia_spark.functions import text as TT
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.operators.spatial_join import spatial_join, with_cell
    from gaia_spark.queries import _zone_index, pages_from_documents

    fs = P.floor_scaled_sql
    pages = pages_from_documents(spark, sf_dir).withColumn(
        "quality", F.expr(TT.quality_score_sql("text", P.SPARK))
    )
    pts = with_cell(geoparse(pages), 8).filter(F.col("lat").isNotNull())
    idx = _zone_index()
    joined = spatial_join(pts, idx, predicate="intersects", point_key="url")
    return joined.groupBy("zone_id", "lang").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("cell_r8").alias("n_cells"),
        F.sum(F.expr(fs("quality", 2))).cast("long").alias("quality_sum_e2"),
    )


# --- corpus drift: Jensen-Shannon divergence between sources --------------------


def _jsd_oracle() -> str:
    fs = P.floor_scaled_sql
    pa = "(cast(coalesce(na, 0) as double) / cast(ta as double))"
    pb = "(cast(coalesce(nb, 0) as double) / cast(tb as double))"
    term = (
        f"(CASE WHEN coalesce(na, 0) > 0 THEN {pa} * ln(2 * {pa} / ({pa} + {pb})) "
        "ELSE cast(0 as double) END "
        f"+ CASE WHEN coalesce(nb, 0) > 0 THEN {pb} * ln(2 * {pb} / ({pa} + {pb})) "
        "ELSE cast(0 as double) END)"
    )
    return f"""
    WITH toks AS (SELECT source, unnest({P.split_ws('text', P.DUCK)}) AS word
                  FROM documents WHERE length(text) > 0),
    cnt AS (SELECT source, word, cast(count(*) as bigint) AS n
            FROM toks WHERE length(word) > 0 GROUP BY 1, 2),
    tot AS (SELECT source, cast(sum(n) as bigint) AS t FROM cnt GROUP BY 1),
    wv AS (SELECT DISTINCT word FROM cnt),
    pr AS (SELECT a.source AS source_a, b.source AS source_b,
                  a.t AS ta, b.t AS tb
           FROM tot a JOIN tot b ON a.source < b.source),
    g AS (SELECT pr.source_a, pr.source_b, pr.ta, pr.tb, wv.word,
                 ca.n AS na, cb.n AS nb
          FROM pr CROSS JOIN wv
          LEFT JOIN cnt ca ON ca.source = pr.source_a AND ca.word = wv.word
          LEFT JOIN cnt cb ON cb.source = pr.source_b AND cb.word = wv.word),
    q AS (SELECT source_a, source_b, {fs(term, 12)} AS t_e12 FROM g
          WHERE coalesce(na, 0) + coalesce(nb, 0) > 0)
    SELECT source_a, source_b, cast(count(*) as bigint) AS n_words,
           cast(sum(t_e12) as bigint) AS jsd2_e12
    FROM q GROUP BY 1, 2
    """


@register("q_jsd_sources", _jsd_oracle())
def q_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift between sources: Jensen-Shannon divergence of the
    word distributions for every source pair — the distribution-shift
    monitor of a curation pipeline. Per-word terms are one shared IEEE
    chain from exact counts, e12-quantized BEFORE the sum so the
    aggregation is an order-free bigint add; output is 2·JSD in e12
    (halving stays with the consumer to keep the sum exact). Vocabulary-
    sized joins only."""
    fs = P.floor_scaled_sql
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = d.select(
        "source", F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("word")
    ).filter(F.length("word") > 0)
    cnt = toks.groupBy("source", "word").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("source").agg(F.sum("n").cast("long").alias("t"))
    wv = cnt.select("word").distinct()
    a = tot.select(F.col("source").alias("source_a"), F.col("t").alias("ta"))
    b = tot.select(F.col("source").alias("source_b"), F.col("t").alias("tb"))
    pr = a.join(b, F.col("source_a") < F.col("source_b"))
    ca = cnt.select(
        F.col("source").alias("_sa"), F.col("word").alias("_wa"),
        F.col("n").alias("na"),
    )
    cb = cnt.select(
        F.col("source").alias("_sb"), F.col("word").alias("_wb"),
        F.col("n").alias("nb"),
    )
    g = (
        pr.crossJoin(F.broadcast(wv))
        .join(ca, (F.col("source_a") == F.col("_sa"))
              & (F.col("word") == F.col("_wa")), "left")
        .drop("_sa", "_wa")
        .join(cb, (F.col("source_b") == F.col("_sb"))
              & (F.col("word") == F.col("_wb")), "left")
        .drop("_sb", "_wb")
    )
    pa = "(cast(coalesce(na, 0) as double) / cast(ta as double))"
    pb = "(cast(coalesce(nb, 0) as double) / cast(tb as double))"
    term = (
        f"(CASE WHEN coalesce(na, 0) > 0 THEN {pa} * ln(2 * {pa} / ({pa} + {pb})) "
        "ELSE cast(0 as double) END "
        f"+ CASE WHEN coalesce(nb, 0) > 0 THEN {pb} * ln(2 * {pb} / ({pa} + {pb})) "
        "ELSE cast(0 as double) END)"
    )
    q = g.filter(F.expr("coalesce(na, 0) + coalesce(nb, 0) > 0")).select(
        "source_a", "source_b", F.expr(fs(term, 12)).alias("t_e12")
    )
    return q.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("t_e12").cast("long").alias("jsd2_e12"),
    )


# --- MinHash accuracy evaluation ------------------------------------------------


def _minhash_acc_oracle() -> str:
    from gaia_spark.operators.dedup import minhash_oracle_ctes

    fs = P.floor_scaled_sql
    n_hashes = 8
    match = " + ".join(
        f"(CASE WHEN sa.sig_{k} = sb.sig_{k} THEN 1 ELSE 0 END)"
        for k in range(n_hashes)
    )
    sh = T.shingles_sql("text", P.DUCK)
    exact = "(cast(coalesce(i.inter, 0) as double) " \
            "/ cast(za.n_sh + zb.n_sh - coalesce(i.inter, 0) as double))"
    return f"""
    WITH {minhash_oracle_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
             FROM bands a JOIN bands b USING (band)
             WHERE a.doc_id < b.doc_id),
    est AS (SELECT cand.a, cand.b,
              {fs(f'(cast({match} as double) / cast({n_hashes} as double))', 6)}
                AS est_e6
            FROM cand JOIN sig sa ON sa.doc_id = cand.a
                      JOIN sig sb ON sb.doc_id = cand.b),
    shd AS (SELECT DISTINCT doc_id, s FROM
              (SELECT doc_id, unnest({sh}) AS s FROM documents) q),
    sizes AS (SELECT doc_id, cast(count(*) as bigint) AS n_sh
              FROM shd GROUP BY 1),
    i AS (SELECT cand.a, cand.b, cast(count(*) as bigint) AS inter
          FROM cand JOIN shd ia ON ia.doc_id = cand.a
                    JOIN shd ib ON ib.doc_id = cand.b AND ib.s = ia.s
          GROUP BY 1, 2)
    SELECT est.a, est.b, est.est_e6,
           {fs(exact, 6)} AS exact_e6,
           {fs(f'abs(cast(est.est_e6 as double) / cast(1000000 as double) - {exact})', 6)}
             AS abs_err_e6
    FROM est LEFT JOIN i ON i.a = est.a AND i.b = est.b
    JOIN sizes za ON za.doc_id = est.a JOIN sizes zb ON zb.doc_id = est.b
    """


@register("q_minhash_accuracy", _minhash_acc_oracle())
def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: MinHash-estimated vs exact Jaccard (and
    the absolute error) for every LSH candidate pair — exact verification
    scoped to the banded candidates, never all-pairs. The eval sibling of
    q_minhash_pairs that tells a pipeline owner what the banding
    threshold actually buys."""
    from gaia_spark.operators.dedup import minhash_accuracy

    return minhash_accuracy(load(spark, sf_dir, "documents"))


# --- spatial language diversity -------------------------------------------------


def _geo_diversity_oracle() -> str:
    from gaia_spark.queries import GEOPARSE_RE2, _PAGES_CTE

    fs = P.floor_scaled_sql
    pages_l = _PAGES_CTE.replace("FROM documents)", ", lang FROM documents)")
    p = "(cast(n as double) / cast(tot as double))"
    return f"""
    WITH {pages_l},
    g AS (SELECT lang,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 3), '')
                      as double) AS lat,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 4), '')
                      as double) AS lon
          FROM pages),
    pts AS (SELECT lang, {P.cell_id_sql('lat', 'lon', 4)} AS cell
            FROM g WHERE lat IS NOT NULL),
    c AS (SELECT cell, lang, cast(count(*) as bigint) AS n
          FROM pts GROUP BY 1, 2),
    t AS (SELECT cell, cast(sum(n) as bigint) AS tot,
                 cast(count(*) as bigint) AS n_langs FROM c GROUP BY 1),
    q AS (SELECT c.cell, {fs(f'(-({p}) * ln({p}))', 9)} AS h_e9
          FROM c JOIN t USING (cell))
    SELECT t.cell, t.tot AS n_pages, t.n_langs,
           cast(sum(q.h_e9) as bigint) AS entropy_e9
    FROM q JOIN t USING (cell) GROUP BY 1, 2, 3
    """


@register("q_geo_diversity", _geo_diversity_oracle())
def q_geo_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial language diversity: Shannon entropy of the page-language
    mix per res-4 cell over the geoparsed pages layer — the web x geo
    diversity map (monolingual vs cosmopolitan regions). Per-lang terms
    e9-prequantized from exact counts, summed as bigints (order-free);
    two cell-keyed aggregates."""
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.operators.spatial_join import with_cell
    from gaia_spark.queries import pages_from_documents

    fs = P.floor_scaled_sql
    pts = (
        with_cell(geoparse(pages_from_documents(spark, sf_dir)), 4)
        .filter(F.col("lat").isNotNull())
        .select("lang", F.col("cell_r4").alias("cell"))
    )
    c = pts.groupBy("cell", "lang").agg(F.count("*").alias("n"))
    t = c.groupBy("cell").agg(
        F.sum("n").cast("long").alias("tot"),
        F.count("*").cast("long").alias("n_langs"),
    )
    p = "(cast(n as double) / cast(tot as double))"
    q = c.join(F.broadcast(t), "cell").select(
        "cell", F.expr(fs(f"(-({p}) * ln({p}))", 9)).alias("h_e9")
    )
    return (
        q.join(F.broadcast(t), "cell")
        .groupBy("cell", F.col("tot").alias("n_pages"), "n_langs")
        .agg(F.sum("h_e9").cast("long").alias("entropy_e9"))
    )


# --- coverage audit: zones without pages / pages outside all zones --------------


def _coverage_oracle() -> str:
    from gaia_spark.queries import GEOPARSE_RE2, ZONES_CTE, _PAGES_CTE

    return f"""
    WITH {_PAGES_CTE}, {ZONES_CTE},
    g AS (SELECT url,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 3), '')
                      as double) AS lat,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 4), '')
                      as double) AS lon
          FROM pages),
    pts AS (SELECT url, lat, lon FROM g WHERE lat IS NOT NULL),
    j AS (SELECT p.url, z.zone_id FROM pts p LEFT JOIN zones z
            ON p.lat >= z.min_lat AND p.lat <= z.max_lat
           AND p.lon >= z.min_lon AND p.lon <= z.max_lon),
    per_zone AS (SELECT z.zone_id,
                        cast(count(j.url) as bigint) AS n_pages
                 FROM zones z LEFT JOIN j ON j.zone_id = z.zone_id
                 GROUP BY 1),
    outside AS (SELECT cast(count(*) as bigint) AS n
                FROM (SELECT url, max(zone_id) AS mz FROM j GROUP BY url) q
                WHERE mz IS NULL)
    SELECT cast(zone_id as bigint) AS zone_id, n_pages,
           (n_pages = 0) AS is_gap,
           outside.n AS n_outside_all
    FROM per_zone CROSS JOIN outside
    """


@register("q_zone_coverage", _coverage_oracle())
def q_zone_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage audit of the zone layer vs the geoparsed pages: page count
    per zone INCLUDING empty zones (the gap list), plus the count of
    pages outside every zone — the QA query a layer owner runs before
    trusting any zonal rollup. Left joins both ways off one small
    broadcast layer."""
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.queries import oracle_zones_pdf, pages_from_documents

    pts = (
        geoparse(pages_from_documents(spark, sf_dir))
        .filter(F.col("lat").isNotNull())
        .select("url", "lat", "lon")
    )
    zones = local_df(
        spark, oracle_zones_pdf(),
        "zone_id long, min_lat double, min_lon double, max_lat double, max_lon double",
    )
    j = pts.join(
        F.broadcast(zones),
        (F.col("lat") >= F.col("min_lat")) & (F.col("lat") <= F.col("max_lat"))
        & (F.col("lon") >= F.col("min_lon"))
        & (F.col("lon") <= F.col("max_lon")),
        "left",
    ).select("url", "zone_id")
    per_zone = (
        zones.select("zone_id")
        .join(j.filter(F.col("zone_id").isNotNull()), "zone_id", "left")
        .groupBy("zone_id")
        .agg(F.count("url").alias("n_pages"))
    )
    outside = (
        j.groupBy("url").agg(F.max("zone_id").alias("mz"))
        .filter(F.col("mz").isNull())
        .agg(F.count("*").cast("long").alias("n"))
    )
    return per_zone.crossJoin(F.broadcast(outside)).select(
        F.col("zone_id").cast("long"),
        F.col("n_pages").cast("long"),
        (F.col("n_pages") == 0).alias("is_gap"),
        F.col("n").alias("n_outside_all"),
    )


# --- exact weighted median ------------------------------------------------------


@register(
    "q_weighted_median",
    f"""
    WITH l AS (SELECT l_returnflag AS flag,
                      {P.floor_scaled_sql('l_extendedprice', 2)} AS price_e2,
                      cast({P.floor_scaled_sql('l_quantity', 0)} as bigint) AS w,
                      l_orderkey, l_linenumber
               FROM lineitem),
    c AS (SELECT flag, price_e2, w,
                 sum(w) OVER (PARTITION BY flag
                   ORDER BY price_e2, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cw,
                 sum(w) OVER (PARTITION BY flag) AS tw
          FROM l),
    m AS (SELECT flag, cast(min(price_e2) as bigint) AS wmedian_e2,
                 cast(min(tw) as bigint) AS total_w
          FROM c WHERE 2 * cw >= tw GROUP BY flag)
    SELECT flag, wmedian_e2, total_w FROM m
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (lower) of extended price weighted by
    quantity, per return flag: one per-group window cumsum under a total
    (price, orderkey, linenumber) order, then the first row whose doubled
    cumulative weight reaches the total — the weighted sibling of
    q_quantiles' rank picks, all exact bigints."""
    fs = P.floor_scaled_sql
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr(fs("l_extendedprice", 2)).alias("price_e2"),
        F.expr(f"cast({fs('l_quantity', 0)} as bigint)").alias("w"),
        "l_orderkey", "l_linenumber",
    )
    wo = Window.partitionBy("flag").orderBy(
        "price_e2", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("flag")
    c = li.withColumn("cw", F.sum("w").over(wo)).withColumn(
        "tw", F.sum("w").over(wt)
    )
    return (
        c.filter(F.expr("2 * cw >= tw"))
        .groupBy("flag")
        .agg(
            F.min("price_e2").cast("long").alias("wmedian_e2"),
            F.min("tw").cast("long").alias("total_w"),
        )
    )


# --- funnel latency (time-to-convert percentiles) -------------------------------


@register(
    "q_funnel_latency",
    f"""
    WITH s1 AS (SELECT user_id, min(struct_pack(ts := ts, eid := event_id)) AS m
                FROM events WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(struct_pack(ts := e.ts, eid := e.event_id)) AS m
           FROM events e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click'
             AND (e.ts > (s1.m).ts OR (e.ts = (s1.m).ts
                  AND e.event_id > (s1.m).eid))
           GROUP BY 1),
    s3 AS (SELECT e.user_id, min(struct_pack(ts := e.ts, eid := e.event_id)) AS m
           FROM events e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase'
             AND (e.ts > (s2.m).ts OR (e.ts = (s2.m).ts
                  AND e.event_id > (s2.m).eid))
           GROUP BY 1),
    g AS (SELECT s3.user_id,
                 cast(floor(date_part('epoch', (s3.m).ts - (s1.m).ts))
                      as bigint) AS gap_s
          FROM s3 JOIN s1 ON s1.user_id = s3.user_id),
    r AS (SELECT gap_s,
                 row_number() OVER (ORDER BY gap_s, user_id) AS rn,
                 count(*) OVER () AS n FROM g)
    SELECT cast(min(n) as bigint) AS n_users,
           max(CASE WHEN rn = (n - 1) // 2 + 1 THEN gap_s END) AS p50_s,
           max(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN gap_s END) AS p90_s
    FROM r
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: for users completing the strict view→click→
    purchase funnel, the exact p50/p90 of first-view→first-qualifying-
    purchase latency — the product metric behind 'how long does
    conversion take'. Chains the q_funnel stage picks with the
    q_quantiles rank formula; the rank window sorts only the completing
    users."""
    e = load(spark, sf_dir, "events")

    def stage(ev_type, prev):
        s = e.filter(F.col("event_type") == ev_type)
        if prev is not None:
            s = s.join(prev, "user_id").filter(
                (F.col("ts") > F.col("m.ts"))
                | ((F.col("ts") == F.col("m.ts"))
                   & (F.col("event_id") > F.col("m.eid")))
            )
        return s.groupBy("user_id").agg(
            F.min(F.struct(F.col("ts").alias("ts"),
                           F.col("event_id").alias("eid"))).alias("m")
        )

    s1 = stage("view", None)
    s3 = stage("purchase", stage("click", s1))
    g = s3.join(
        s1.select("user_id", F.col("m").alias("m1")), "user_id"
    ).select(
        "user_id",
        F.floor(
            F.col("m.ts").cast("timestamp").cast("double")
            - F.col("m1.ts").cast("timestamp").cast("double")
        ).cast("long").alias("gap_s"),
    )
    r = g.withColumn(
        "rn", F.row_number().over(Window.orderBy("gap_s", "user_id"))
    ).withColumn("n", F.count("*").over(Window.partitionBy()))
    return r.agg(
        F.min("n").cast("long").alias("n_users"),
        F.max(F.expr("CASE WHEN rn = (n - 1) div 2 + 1 THEN gap_s END"))
        .alias("p50_s"),
        F.max(F.expr("CASE WHEN rn = ((n - 1) * 9) div 10 + 1 THEN gap_s END"))
        .alias("p90_s"),
    )


# --- mobility metrics: radius of gyration + visit entropy -----------------------


@register(
    "q_mobility",
    f"""
    WITH e AS (SELECT user_id, {_CH_LAT} AS lat, {_CH_LON} AS lon FROM events),
    q AS (SELECT user_id, lat, lon,
                 {P.floor_scaled_sql('lat + 90.0', 4)} AS la4,
                 {P.floor_scaled_sql('lon + 180.0', 4)} AS lo4,
                 {P.cell_id_sql('lat', 'lon', 6)} AS cell
          FROM e),
    c AS (SELECT user_id, cast(count(*) as bigint) AS n,
                 {P.bigint_div('sum(la4)', 'count(*)', P.DUCK)} AS ca4,
                 {P.bigint_div('sum(lo4)', 'count(*)', P.DUCK)} AS co4
          FROM q GROUP BY 1),
    d AS (SELECT q.user_id, c.n,
            {P.floor_scaled_sql(P.haversine_m_sql(
                'q.lat', 'q.lon',
                '(cast(c.ca4 as double) / cast(10000 as double) - 90.0)',
                '(cast(c.co4 as double) / cast(10000 as double) - 180.0)'), 0)}
              AS dm
          FROM q JOIN c USING (user_id)),
    rg AS (SELECT user_id, cast(min(n) as bigint) AS n_points,
                  cast(sum(dm * dm) as bigint) AS sd2 FROM d GROUP BY 1),
    vc AS (SELECT user_id, cell, cast(count(*) as bigint) AS nc
           FROM q GROUP BY 1, 2),
    vt AS (SELECT user_id, cast(sum(nc) as bigint) AS tot,
                  cast(count(*) as bigint) AS n_cells FROM vc GROUP BY 1),
    he AS (SELECT vc.user_id,
             cast(sum({P.floor_scaled_sql(
                 '(-(cast(nc as double) / cast(tot as double)) '
                 '* ln(cast(nc as double) / cast(tot as double)))', 9)})
               as bigint) AS entropy_e9
           FROM vc JOIN vt USING (user_id) GROUP BY 1)
    SELECT rg.user_id, rg.n_points, vt.n_cells, he.entropy_e9,
           {P.floor_scaled_sql(
               '(sqrt(cast(rg.sd2 as double) / cast(rg.n_points as double)))', 0)}
             AS rgyr_m
    FROM rg JOIN vt ON vt.user_id = rg.user_id
            JOIN he ON he.user_id = rg.user_id
    """,
)
def q_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mobility profile over the walk fixture: radius of gyration
    (RMS great-circle distance to the exact-integer mean center — the
    González-Hidalgo-Barabási range metric) and res-6 cell visit entropy
    (predictability). Distances floor to metres BEFORE squaring so the
    moment sum is an exact bigint; entropy terms e9-prequantized — both
    engine-independent. Two user-keyed aggregates reusing one
    partitioning."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(_CH_LAT).alias("lat"), F.expr(_CH_LON).alias("lon"),
    )
    q = e.select(
        "user_id", "lat", "lon",
        F.expr(fs("lat + 90.0", 4)).alias("la4"),
        F.expr(fs("lon + 180.0", 4)).alias("lo4"),
        F.expr(P.cell_id_sql("lat", "lon", 6)).alias("cell"),
    )
    c = q.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.expr(P.bigint_div("sum(la4)", "count(*)", P.SPARK)).alias("ca4"),
        F.expr(P.bigint_div("sum(lo4)", "count(*)", P.SPARK)).alias("co4"),
    )
    d = q.join(c, "user_id").select(
        "user_id", "n",
        F.expr(fs(P.haversine_m_sql(
            "lat", "lon",
            "(cast(ca4 as double) / cast(10000 as double) - 90.0)",
            "(cast(co4 as double) / cast(10000 as double) - 180.0)"), 0)
        ).alias("dm"),
    )
    rg = d.groupBy("user_id").agg(
        F.min("n").cast("long").alias("n_points"),
        F.sum(F.col("dm") * F.col("dm")).alias("sd2"),
    )
    vc = q.groupBy("user_id", "cell").agg(F.count("*").alias("nc"))
    vt = vc.groupBy("user_id").agg(
        F.sum("nc").cast("long").alias("tot"),
        F.count("*").cast("long").alias("n_cells"),
    )
    p = "(cast(nc as double) / cast(tot as double))"
    he = (
        vc.join(vt, "user_id")
        .select("user_id", F.expr(fs(f"(-({p}) * ln({p}))", 9)).alias("h"))
        .groupBy("user_id").agg(F.sum("h").cast("long").alias("entropy_e9"))
    )
    return (
        rg.join(vt.select("user_id", "n_cells"), "user_id")
        .join(he, "user_id")
        .select(
            "user_id", "n_points", "n_cells", "entropy_e9",
            F.expr(fs(
                "(sqrt(cast(sd2 as double) / cast(n_points as double)))", 0)
            ).alias("rgyr_m"),
        )
    )


# --- returners vs explorers -----------------------------------------------------


@register(
    "q_returners",
    f"""
    WITH e AS (SELECT user_id, {_CH_LAT} AS lat, {_CH_LON} AS lon FROM events),
    vc AS (SELECT user_id, {P.cell_id_sql('lat', 'lon', 6)} AS cell,
                  cast(count(*) as bigint) AS nc
           FROM e GROUP BY 1, 2),
    r AS (SELECT user_id, nc,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY nc DESC, cell ASC) AS rk FROM vc),
    t AS (SELECT user_id, cast(sum(nc) as bigint) AS tot FROM vc GROUP BY 1),
    k AS (SELECT user_id, cast(sum(CASE WHEN rk <= 2 THEN nc ELSE 0 END)
                               as bigint) AS top2
          FROM r GROUP BY 1)
    SELECT k.user_id, k.top2, t.tot,
           {P.floor_scaled_sql(
               '(cast(k.top2 as double) / cast(t.tot as double))', 6)}
             AS top2_share_e6,
           ({P.floor_scaled_sql(
               '(cast(k.top2 as double) / cast(t.tot as double))', 6)}
            >= 500000) AS is_returner
    FROM k JOIN t USING (user_id)
    """,
)
def q_returners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returners vs explorers (Pappalardo et al.): the share of a user's
    visits falling in their two most-visited res-6 cells (count-then-cell
    tie-break), classified on the QUANTIZED share so the label never
    flips engines. One user-cell aggregate + one user-partitioned rank."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events").select(
        "user_id", F.expr(_CH_LAT).alias("lat"), F.expr(_CH_LON).alias("lon")
    )
    vc = e.groupBy(
        "user_id", F.expr(P.cell_id_sql("lat", "lon", 6)).alias("cell")
    ).agg(F.count("*").alias("nc"))
    w = Window.partitionBy("user_id").orderBy(F.desc("nc"), F.asc("cell"))
    r = vc.withColumn("rk", F.row_number().over(w))
    t = vc.groupBy("user_id").agg(F.sum("nc").cast("long").alias("tot"))
    k = r.groupBy("user_id").agg(
        F.sum(F.expr("CASE WHEN rk <= 2 THEN nc ELSE 0 END"))
        .cast("long").alias("top2")
    )
    share = fs("(cast(top2 as double) / cast(tot as double))", 6)
    return k.join(t, "user_id").select(
        "user_id", "top2", "tot",
        F.expr(share).alias("top2_share_e6"),
        F.expr(f"({share}) >= 500000").alias("is_returner"),
    )


# --- co-location pairs ----------------------------------------------------------


@register(
    "q_colocation",
    f"""
    WITH e AS (SELECT user_id, {_CH_LAT} AS lat, {_CH_LON} AS lon,
                      cast(floor(date_part('epoch', ts) / 3600) as bigint)
                        AS hour
               FROM events),
    v AS (SELECT DISTINCT user_id, hour,
                 {P.cell_id_sql('lat', 'lon', 5)} AS cell FROM e),
    p AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
                 cast(count(*) as bigint) AS n_meet
          FROM v a JOIN v b ON a.cell = b.cell AND a.hour = b.hour
                           AND a.user_id < b.user_id
          GROUP BY 1, 2)
    SELECT user_a, user_b, n_meet FROM p WHERE n_meet >= 2
    """,
)
def q_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-location network: user pairs sharing the same res-5 cell in the
    same hour at least twice — the mobility-derived social-tie proxy.
    The pair generator is a (cell, hour) equi-join of the DISTINCT
    visit table, fan-out bounded by per-cell-hour occupancy², never
    users²."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(_CH_LAT).alias("lat"), F.expr(_CH_LON).alias("lon"),
        F.expr(
            "cast(floor(cast(cast(ts as timestamp) as double) / 3600) as bigint)"
        ).alias("hour"),
    )
    v = e.select(
        "user_id", "hour", F.expr(P.cell_id_sql("lat", "lon", 5)).alias("cell")
    ).distinct()
    a = v.select(
        F.col("user_id").alias("user_a"), F.col("hour").alias("_ha"),
        F.col("cell").alias("_ca"),
    )
    b = v.select(
        F.col("user_id").alias("user_b"), F.col("hour").alias("_hb"),
        F.col("cell").alias("_cb"),
    )
    p = (
        a.join(b, (F.col("_ca") == F.col("_cb")) & (F.col("_ha") == F.col("_hb"))
               & (F.col("user_a") < F.col("user_b")))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_meet"))
    )
    return p.filter(F.col("n_meet") >= 2).select(
        "user_a", "user_b", F.col("n_meet").cast("long")
    )


# --- home / work inference + commute distance -----------------------------------


def _home_work_oracle() -> str:
    fs = P.floor_scaled_sql
    n = 1 << 6
    hy = P.bigint_div("home_cell", str(n), P.DUCK)
    hx = f"(home_cell % {n})"
    wy = P.bigint_div("work_cell", str(n), P.DUCK)
    wx = f"(work_cell % {n})"
    commute = P.haversine_m_sql(
        P.cell_center_lat_sql(hy, 6), P.cell_center_lon_sql(hx, 6),
        P.cell_center_lat_sql(wy, 6), P.cell_center_lon_sql(wx, 6),
    )
    return f"""
    WITH e AS (SELECT user_id, {_CH_LAT} AS lat, {_CH_LON} AS lon,
                      cast(floor(date_part('epoch', ts) / 3600) % 24 as bigint)
                        AS hod
               FROM events),
    v AS (SELECT user_id, hod, {P.cell_id_sql('lat', 'lon', 6)} AS cell FROM e),
    hc AS (SELECT user_id, cell, cast(count(*) as bigint) AS nc FROM v
           WHERE hod < 6 GROUP BY 1, 2),
    wc AS (SELECT user_id, cell, cast(count(*) as bigint) AS nc FROM v
           WHERE hod >= 9 AND hod < 17 GROUP BY 1, 2),
    h1 AS (SELECT user_id, cell AS home_cell, nc AS n_home FROM
             (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY nc DESC, cell ASC) AS rk FROM hc) q WHERE rk = 1),
    w1 AS (SELECT user_id, cell AS work_cell, nc AS n_work FROM
             (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY nc DESC, cell ASC) AS rk FROM wc) q WHERE rk = 1)
    SELECT h1.user_id, h1.home_cell, h1.n_home, w1.work_cell, w1.n_work,
           {fs(commute, 0)} AS commute_m
    FROM h1 JOIN w1 USING (user_id)
    """


@register("q_home_work", _home_work_oracle())
def q_home_work(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Home/work anchor inference: each user's most-visited res-6 cell in
    night hours (00-06) and working hours (09-17), count-then-cell
    tie-break, plus the great-circle commute between the two cell
    centers — the anchor-detection step of any mobility pipeline. Two
    filtered user-cell aggregates + per-user ranks on one partitioning."""
    fs = P.floor_scaled_sql
    n = 1 << 6
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(_CH_LAT).alias("lat"), F.expr(_CH_LON).alias("lon"),
        F.expr(
            "cast(floor(cast(cast(ts as timestamp) as double) / 3600) % 24 "
            "as bigint)"
        ).alias("hod"),
    )
    v = e.select(
        "user_id", "hod", F.expr(P.cell_id_sql("lat", "lon", 6)).alias("cell")
    )

    def top_cell(df, out_cell, out_n):
        g = df.groupBy("user_id", "cell").agg(F.count("*").alias("nc"))
        w = Window.partitionBy("user_id").orderBy(F.desc("nc"), F.asc("cell"))
        return (
            g.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "user_id", F.col("cell").alias(out_cell),
                F.col("nc").cast("long").alias(out_n),
            )
        )

    h1 = top_cell(v.filter(F.col("hod") < 6), "home_cell", "n_home")
    w1 = top_cell(
        v.filter((F.col("hod") >= 9) & (F.col("hod") < 17)),
        "work_cell", "n_work",
    )
    hy = P.bigint_div("home_cell", str(n), P.SPARK)
    hx = f"(home_cell % {n})"
    wy = P.bigint_div("work_cell", str(n), P.SPARK)
    wx = f"(work_cell % {n})"
    commute = P.haversine_m_sql(
        P.cell_center_lat_sql(hy, 6), P.cell_center_lon_sql(hx, 6),
        P.cell_center_lat_sql(wy, 6), P.cell_center_lon_sql(wx, 6),
    )
    return h1.join(w1, "user_id").select(
        "user_id", "home_cell", "n_home", "work_cell", "n_work",
        F.expr(fs(commute, 0)).alias("commute_m"),
    )


# --- host-graph weakly-connected components -------------------------------------


def _host_comp_oracle() -> str:
    hid = P.md5_int60("host", P.DUCK)
    return f"""
    WITH RECURSIVE {W.link_edges_oracle_ctes()},
    hosts AS (SELECT DISTINCT host FROM (
                SELECT src_host AS host FROM e
                UNION ALL SELECT dst_host FROM e WHERE dst_host IS NOT NULL) q),
    ids AS (SELECT host, {hid} AS v FROM hosts),
    de AS (SELECT DISTINCT a.v AS u, b.v AS w
           FROM e JOIN ids a ON a.host = e.src_host
                 JOIN ids b ON b.host = e.dst_host
           WHERE e.dst_host IS NOT NULL AND a.v <> b.v),
    sym AS (SELECT u, w FROM de UNION SELECT w, u FROM de),
    reach AS (
      SELECT u, w AS x FROM sym
      UNION
      SELECT r.u, s.w FROM reach r JOIN sym s ON s.u = r.x
    ),
    lab AS (SELECT i.v, least(i.v, coalesce(min(r.x), i.v)) AS comp
            FROM ids i LEFT JOIN reach r ON r.u = i.v GROUP BY i.v),
    sz AS (SELECT comp, cast(count(*) as bigint) AS comp_size
           FROM lab GROUP BY 1)
    SELECT ids.host, lab.comp, sz.comp_size
    FROM ids JOIN lab ON lab.v = ids.v JOIN sz ON sz.comp = lab.comp
    """


@register("q_host_components", _host_comp_oracle())
def q_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the host link graph (md5 host ids,
    min-label-with-pointer-doubling engine vs the oracle's recursive
    undirected reachability closure) with component sizes — the web-graph
    structure census that bounds crawl frontiers and dedup scopes."""
    from gaia_spark.operators.stats import min_label_components

    edges_raw = W.link_host_edges(
        load(spark, sf_dir, "documents")
    ).filter(F.col("dst_host").isNotNull())
    ids = (
        edges_raw.select(F.col("src_host").alias("host"))
        .unionAll(edges_raw.select(F.col("dst_host").alias("host")))
        .distinct()
        .withColumn("v", F.expr(P.md5_int60("host", P.SPARK)))
    )
    de = (
        edges_raw.join(
            ids.select(F.col("host").alias("src_host"), F.col("v").alias("u")),
            "src_host",
        )
        .join(
            ids.select(F.col("host").alias("dst_host"), F.col("v").alias("w")),
            "dst_host",
        )
        .filter(F.col("u") != F.col("w"))
        .select("u", "w")
        .distinct()
    )
    sym = de.select(F.col("u").alias("v"), "w").unionAll(
        de.select(F.col("w").alias("v"), F.col("u").alias("w"))
    )
    comp = min_label_components(
        ids.select("v"), sym, node_col="v", nbr_col="w"
    )
    sz = comp.groupBy("label").agg(F.count("*").cast("long").alias("comp_size"))
    return (
        ids.join(comp, "v")
        .join(sz, "label")
        .select("host", F.col("label").alias("comp"), "comp_size")
    )


# --- in-degree distribution + power-law slope -----------------------------------


@register(
    "q_degree_dist",
    f"""
    WITH {W.link_edges_oracle_ctes()},
    d AS (SELECT dst_host, cast(count(*) as bigint) AS deg
          FROM (SELECT DISTINCT src_host, dst_host FROM e
                WHERE dst_host IS NOT NULL) q GROUP BY 1),
    hist AS (SELECT deg, cast(count(*) as bigint) AS n_hosts FROM d GROUP BY 1),
    q2 AS (SELECT deg, n_hosts,
                  {P.floor_scaled_sql('ln(cast(deg as double))', 6)} AS x_e6,
                  {P.floor_scaled_sql('ln(cast(n_hosts as double))', 6)} AS y_e6
           FROM hist),
    mom AS (SELECT cast(count(*) as bigint) AS m,
                   cast(sum(x_e6) as bigint) AS sx,
                   cast(sum(y_e6) as bigint) AS sy,
                   cast(sum(x_e6 * y_e6) as bigint) AS sxy,
                   cast(sum(x_e6 * x_e6) as bigint) AS sxx
            FROM q2)
    SELECT q2.deg, q2.n_hosts,
      CASE WHEN mom.m >= 2 THEN {P.floor_scaled_sql(
          '(cast(mom.m * mom.sxy - mom.sx * mom.sy as double) '
          '/ cast(mom.m * mom.sxx - mom.sx * mom.sx as double))', 6)}
           ELSE cast(0 as bigint) END AS alpha_e6
    FROM q2 CROSS JOIN mom
    """,
)
def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree distribution of the host link graph (distinct-edge
    degrees, histogram) with the log-log OLS slope constant — the
    scale-free-ness check of the crawl graph, via the q_zipf
    exact-moment machinery (degree histogram is tiny, so e6 stays inside
    int64)."""
    fs = P.floor_scaled_sql
    d = (
        W.link_host_edges(load(spark, sf_dir, "documents"))
        .filter(F.col("dst_host").isNotNull())
        .distinct()
        .groupBy("dst_host")
        .agg(F.count("*").alias("deg"))
    )
    h = d.groupBy("deg").agg(F.count("*").cast("long").alias("n_hosts"))
    q2 = h.select(
        "deg", "n_hosts",
        F.expr(fs("ln(cast(deg as double))", 6)).alias("x_e6"),
        F.expr(fs("ln(cast(n_hosts as double))", 6)).alias("y_e6"),
    )
    mom = q2.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x_e6").alias("sx"), F.sum("y_e6").alias("sy"),
        F.sum(F.col("x_e6") * F.col("y_e6")).alias("sxy"),
        F.sum(F.col("x_e6") * F.col("x_e6")).alias("sxx"),
    )
    alpha = (
        "CASE WHEN m >= 2 THEN "
        + fs("(cast(m * sxy - sx * sy as double) "
             "/ cast(m * sxx - sx * sx as double))", 6)
        + " ELSE cast(0 as bigint) END"
    )
    return q2.crossJoin(F.broadcast(mom)).select(
        F.col("deg").cast("long"), "n_hosts", F.expr(alpha).alias("alpha_e6")
    )


# --- burstiness of the event stream ---------------------------------------------


@register(
    "q_burstiness",
    f"""
    WITH p AS (SELECT user_id,
                      date_part('epoch', ts)
                        - lag(date_part('epoch', ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) AS gap
               FROM events),
    g AS (SELECT user_id, cast(floor(gap) as bigint) AS gap_s FROM p
          WHERE gap IS NOT NULL),
    m AS (SELECT user_id, cast(count(*) as bigint) AS n,
                 cast(sum(gap_s) as bigint) AS s,
                 cast(sum(gap_s * gap_s) as bigint) AS s2
          FROM g GROUP BY 1)
    SELECT user_id, n,
      CASE WHEN n >= 2 AND n * s2 - s * s > 0 THEN
        {P.floor_scaled_sql(
            '((sqrt(cast(n * s2 - s * s as double)) / cast(n as double) '
            '- cast(s as double) / cast(n as double)) '
            '/ (sqrt(cast(n * s2 - s * s as double)) / cast(n as double) '
            '+ cast(s as double) / cast(n as double)))', 6)}
      ELSE cast(-1000000 as bigint) END AS burstiness_e6
    FROM m
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness B = (σ−μ)/(σ+μ) of each user's inter-event times
    (Goh-Barabási): −1 = periodic, 0 = Poisson, →1 = bursty. Integer
    second gaps, exact bigint moments, one shared IEEE chain; the
    zero-variance case pins to −1 on exact integers. One user window +
    one user agg."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.col("ts").cast("timestamp").cast("double")
    p = e.withColumn("gap", ep - F.lag(ep).over(w))
    g = p.filter(F.col("gap").isNotNull()).select(
        "user_id", F.floor("gap").cast("long").alias("gap_s")
    )
    m = g.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("gap_s").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"),
    )
    b = (
        "CASE WHEN n >= 2 AND n * s2 - s * s > 0 THEN "
        + fs("((sqrt(cast(n * s2 - s * s as double)) / cast(n as double) "
             "- cast(s as double) / cast(n as double)) "
             "/ (sqrt(cast(n * s2 - s * s as double)) / cast(n as double) "
             "+ cast(s as double) / cast(n as double)))", 6)
        + " ELSE cast(-1000000 as bigint) END"
    )
    return m.select("user_id", "n", F.expr(b).alias("burstiness_e6"))


# --- trending terms (Mann-Kendall over daily term counts) -----------------------


def _trending_oracle() -> str:
    from gaia_spark.queries import _PAGES_CTE

    pages_t = _PAGES_CTE.replace(
        "FROM documents)",
        f", cast(floor(({ '(doc_id * 137) % 31536000' }) / 86400) as bigint) "
        "AS day FROM documents)",
    )
    return f"""
    WITH {pages_t},
    toks AS (SELECT day, unnest({P.split_ws('text', P.DUCK)}) AS word
             FROM pages),
    tc AS (SELECT word, day, cast(count(*) as bigint) AS n
           FROM toks WHERE length(word) > 0 AND word NOT LIKE 'geo:%'
           GROUP BY 1, 2),
    top AS (SELECT word, cast(sum(n) as bigint) AS total FROM tc GROUP BY 1
            ORDER BY total DESC, word ASC LIMIT 20),
    d AS (SELECT tc.word, tc.day, tc.n FROM tc JOIN top USING (word)),
    mk AS (SELECT a.word,
                  cast(sum(CASE WHEN b.n > a.n THEN 1
                                WHEN b.n < a.n THEN -1 ELSE 0 END) as bigint)
                    AS s_stat,
                  cast(count(*) as bigint) AS n_pairs
           FROM d a JOIN d b ON a.word = b.word AND a.day < b.day
           GROUP BY 1),
    nd AS (SELECT word, cast(count(*) as bigint) AS n_days FROM d GROUP BY 1)
    SELECT mk.word, nd.n_days, mk.s_stat, mk.n_pairs
    FROM mk JOIN nd USING (word)
    """


@register("q_trending", _trending_oracle())
def q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-term detection: exact Mann-Kendall S over each top-20
    term's daily count series (pages' warc_ts day index) — positive S =
    rising usage, the monotone-trend test that needs no distributional
    assumption. The pair join is per-term days² (bounded by the corpus
    horizon), counts exact bigints throughout."""
    from gaia_spark.queries import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).withColumn(
        "day",
        F.expr("cast(floor(cast(cast(warc_ts as timestamp) as double) "
               "/ 86400) as bigint)"),
    )
    toks = pages.select(
        "day", F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("word")
    ).filter((F.length("word") > 0) & (~F.col("word").like("geo:%")))
    tc = toks.groupBy("word", "day").agg(F.count("*").alias("n"))
    top = (
        tc.groupBy("word").agg(F.sum("n").cast("long").alias("total"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("total"), F.asc("word"))),
        )
        .filter(F.col("rk") <= 20)
        .select("word")
    )
    d = tc.join(F.broadcast(top), "word")
    a = d.select("word", F.col("day").alias("_da"), F.col("n").alias("_na"))
    b = d.select(
        F.col("word").alias("_wb"), F.col("day").alias("_db"),
        F.col("n").alias("_nb"),
    )
    mk = (
        a.join(b, (F.col("word") == F.col("_wb")) & (F.col("_da") < F.col("_db")))
        .groupBy("word")
        .agg(
            F.sum(
                F.expr("CASE WHEN _nb > _na THEN 1 WHEN _nb < _na THEN -1 "
                       "ELSE 0 END")
            ).cast("long").alias("s_stat"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    nd = d.groupBy("word").agg(F.count("*").cast("long").alias("n_days"))
    return mk.join(nd, "word").select("word", "n_days", "s_stat", "n_pairs")


# --- geoparse yield QA ----------------------------------------------------------


@register(
    "q_geoparse_yield",
    f"""
    WITH {{pages}},
    g AS (SELECT lang,
                 CASE WHEN nullif(regexp_extract(text, '{{re2}}', 3), '')
                      IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM pages),
    a AS (SELECT lang, cast(count(*) as bigint) AS n_pages,
                 cast(sum(hit) as bigint) AS n_geo
          FROM g GROUP BY 1)
    SELECT lang, n_pages, n_geo,
           {P.floor_scaled_sql(
               '(cast(n_geo as double) / cast(n_pages as double))', 6)}
             AS yield_e6
    FROM a
    """.format(
        pages=__import__("gaia_spark.queries", fromlist=["_PAGES_CTE"])
        ._PAGES_CTE.replace("FROM documents)", ", lang FROM documents)"),
        re2=__import__("gaia_spark.queries", fromlist=["GEOPARSE_RE2"])
        .GEOPARSE_RE2,
    ),
)
def q_geoparse_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-rate QA: share of pages per language that yield a
    coordinate under grammar v1 — the first metric an ingestion owner
    checks when the point layer looks thin. Map-only + a langs-bounded
    aggregate."""
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.queries import pages_from_documents

    g = geoparse(pages_from_documents(spark, sf_dir)).select(
        "lang", F.when(F.col("lat").isNotNull(), 1).otherwise(0).alias("hit")
    )
    a = g.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("hit").cast("long").alias("n_geo"),
    )
    return a.select(
        "lang", "n_pages", "n_geo",
        F.expr(P.floor_scaled_sql(
            "(cast(n_geo as double) / cast(n_pages as double))", 6)
        ).alias("yield_e6"),
    )


# --- spatial concentration of the page layer ------------------------------------


def _spatial_gini_oracle() -> str:
    from gaia_spark.queries import GEOPARSE_RE2, _PAGES_CTE

    ent_term = P.floor_scaled_sql(
        "cast(_x as double) * ln(cast(_x as double))", 4
    )
    gini = P.bigint_div(
        "(2 * _six - (n_cells + 1) * n_total) * 1000000",
        "n_cells * n_total", P.DUCK,
    )
    hhi = P.bigint_div("_sxx * 1000000", "n_total * n_total", P.DUCK)
    ent = (
        "ln(cast(n_total as double)) - cast(_sent as double)"
        " / (cast(10000 as double) * cast(n_total as double))"
    )
    return f"""
    WITH {_PAGES_CTE},
    g AS (SELECT cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 3), '')
                      as double) AS lat,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 4), '')
                      as double) AS lon
          FROM pages),
    cc AS (SELECT {P.cell_id_sql('lat', 'lon', 5)} AS _h,
                  cast(count(*) as bigint) AS _x
           FROM g WHERE lat IS NOT NULL GROUP BY 1),
    ranked AS (SELECT _h, _x,
                 cast(row_number() OVER (ORDER BY _x ASC, _h ASC) as bigint)
                   AS _i
               FROM cc WHERE _x > 0),
    agg AS (SELECT cast(count(*) as bigint) AS n_cells,
                   cast(sum(_x) as bigint) AS n_total,
                   cast(sum(_i * _x) as bigint) AS _six,
                   cast(sum(_x * _x) as bigint) AS _sxx,
                   cast(sum({ent_term}) as bigint) AS _sent
            FROM ranked)
    SELECT n_cells, n_total,
           CASE WHEN n_total > 0 THEN {gini} ELSE NULL END AS gini_e6,
           CASE WHEN n_total > 0 THEN {hhi} ELSE NULL END AS hhi_e6,
           CASE WHEN n_total > 0 THEN {P.floor_scaled_sql(ent, 4)}
                ELSE NULL END AS entropy_e4
    FROM agg
    """


@register("q_spatial_gini", _spatial_gini_oracle())
def q_spatial_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial concentration of the geoparsed page layer: Gini, HHI and
    Shannon entropy over res-5 cell counts — the corpus-health report
    aimed at geography (is the layer a few hotspots or a spread?).
    Reuses web.host_concentration verbatim on cell keys."""
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.functions.web import host_concentration
    from gaia_spark.operators.spatial_join import with_cell
    from gaia_spark.queries import pages_from_documents

    cc = (
        with_cell(
            geoparse(pages_from_documents(spark, sf_dir)).filter(
                F.col("lat").isNotNull()
            ),
            5,
        )
        .groupBy("cell_r5")
        .agg(F.count("*").alias("n_docs"))
    )
    out = host_concentration(cc, key_col="cell_r5", count_col="n_docs")
    return out.select(
        F.col("n_hosts").alias("n_cells"), "n_total",
        "gini_e6", "hhi_e6", "entropy_e4",
    )


# --- orphan hosts (no inbound links) --------------------------------------------


@register(
    "q_orphan_hosts",
    f"""
    WITH {W.link_edges_oracle_ctes()},
    src AS (SELECT DISTINCT src_host AS host FROM e),
    dst AS (SELECT DISTINCT dst_host AS host FROM e WHERE dst_host IS NOT NULL)
    SELECT s.host, (d.host IS NOT NULL) AS has_inlink
    FROM src s LEFT JOIN dst d ON d.host = s.host
    """,
)
def q_orphan_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan detection: source hosts nobody links to (left-anti shape) —
    the crawl-QA pass that finds unreachable islands before a frontier
    recrawl. One distinct pass per side + one equi-join."""
    e = W.link_host_edges(load(spark, sf_dir, "documents"))
    src = e.select(F.col("src_host").alias("host")).distinct()
    dst = (
        e.filter(F.col("dst_host").isNotNull())
        .select(F.col("dst_host").alias("_dh"))
        .distinct()
    )
    return src.join(dst, F.col("host") == F.col("_dh"), "left").select(
        "host", F.col("_dh").isNotNull().alias("has_inlink")
    )


# --- lag-1 autocorrelation of the hourly event series ---------------------------


@register(
    "q_hourly_autocorr",
    f"""
    WITH b AS (SELECT event_type,
                      cast(floor(date_part('epoch', ts) / 3600) as bigint)
                        AS hour,
                      cast(count(*) as bigint) AS n
               FROM events GROUP BY 1, 2),
    l AS (SELECT a.event_type, a.n AS x, b.n AS y
          FROM b a JOIN b b ON b.event_type = a.event_type
                           AND b.hour = a.hour + 1),
    m AS (SELECT event_type, cast(count(*) as bigint) AS k,
                 cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
                 cast(sum(x * y) as bigint) AS sxy,
                 cast(sum(x * x) as bigint) AS sxx,
                 cast(sum(y * y) as bigint) AS syy
          FROM l GROUP BY 1)
    SELECT event_type, k,
      CASE WHEN k >= 2 AND k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0
        THEN {P.floor_scaled_sql(
            '(cast(k * sxy - sx * sy as double) '
            '/ sqrt(cast(k * sxx - sx * sx as double) '
            '* cast(k * syy - sy * sy as double)))', 6)}
        ELSE cast(0 as bigint) END AS r1_e6
    FROM m
    """,
)
def q_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Pearson autocorrelation of each event type's hourly count
    series (consecutive-hour pairs only — gaps drop out of the join):
    the seasonality-strength diagnostic behind q_anomaly's profile.
    Exact bigint moments, one IEEE chain, degenerate variance pinned to
    0."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type",
        F.expr(
            "cast(floor(cast(cast(ts as timestamp) as double) / 3600) "
            "as bigint)"
        ).alias("hour"),
    ).agg(F.count("*").alias("n"))
    a = b.select("event_type", F.col("hour").alias("_ha"), F.col("n").alias("x"))
    c = b.select(
        F.col("event_type").alias("_tb"), F.col("hour").alias("_hb"),
        F.col("n").alias("y"),
    )
    l = a.join(
        c, (F.col("event_type") == F.col("_tb"))
        & (F.col("_hb") == F.col("_ha") + 1),
    )
    m = l.groupBy("event_type").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    r1 = (
        "CASE WHEN k >= 2 AND k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0 "
        "THEN " + fs(
            "(cast(k * sxy - sx * sy as double) "
            "/ sqrt(cast(k * sxx - sx * sx as double) "
            "* cast(k * syy - sy * sy as double)))", 6)
        + " ELSE cast(0 as bigint) END"
    )
    return m.select("event_type", "k", F.expr(r1).alias("r1_e6"))


# --- tile skew diagnostic -------------------------------------------------------


def _tile_skew_oracle() -> str:
    from gaia_spark.queries import GEOPARSE_RE2, _PAGES_CTE

    fs = P.floor_scaled_sql
    tx = P.tile_x_sql("lon", 6)
    ty = P.tile_y_sql("lat", 6)
    return f"""
    WITH {_PAGES_CTE},
    g AS (SELECT cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 3), '')
                      as double) AS lat,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 4), '')
                      as double) AS lon
          FROM pages),
    t AS (SELECT {tx} AS tx, {ty} AS ty, cast(count(*) as bigint) AS n
          FROM g WHERE lat IS NOT NULL GROUP BY 1, 2),
    s AS (SELECT cast(count(*) as bigint) AS n_tiles,
                 cast(sum(n) as bigint) AS total,
                 cast(max(n) as bigint) AS max_n FROM t),
    r AS (SELECT tx, ty, n, row_number() OVER (ORDER BY n DESC, ty, tx) AS rk
          FROM t)
    SELECT r.tx, r.ty, r.n, cast(r.rk as int) AS rk, s.n_tiles, s.max_n,
           {fs('(cast(s.max_n as double) * cast(s.n_tiles as double) '
               '/ cast(s.total as double))', 6)} AS skew_e6
    FROM r CROSS JOIN s WHERE r.rk <= 5
    """


@register("q_tile_skew", _tile_skew_oracle())
def q_tile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnostic of the z6 tile layer: the five hottest
    tiles plus the skew factor max/mean — the number that decides whether
    a join needs salting or AQE skew handling before it burns an
    executor. One tile aggregate + a rank over the tile table."""
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.queries import pages_from_documents

    fs = P.floor_scaled_sql
    pts = geoparse(pages_from_documents(spark, sf_dir)).filter(
        F.col("lat").isNotNull()
    )
    t = pts.groupBy(
        F.expr(P.tile_x_sql("lon", 6)).alias("tx"),
        F.expr(P.tile_y_sql("lat", 6)).alias("ty"),
    ).agg(F.count("*").alias("n"))
    s = t.agg(
        F.count("*").cast("long").alias("n_tiles"),
        F.sum("n").cast("long").alias("total"),
        F.max("n").cast("long").alias("max_n"),
    )
    r = t.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("n"), "ty", "tx"))
    ).filter(F.col("rk") <= 5)
    return r.crossJoin(F.broadcast(s)).select(
        "tx", "ty", F.col("n").cast("long"), F.col("rk").cast("int"),
        "n_tiles", "max_n",
        F.expr(fs(
            "(cast(max_n as double) * cast(n_tiles as double) "
            "/ cast(total as double))", 6)).alias("skew_e6"),
    )


# --- data-gap statistics --------------------------------------------------------


@register(
    "q_gap_stats",
    f"""
    WITH p AS (SELECT user_id,
                      date_part('epoch', ts)
                        - lag(date_part('epoch', ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) AS gap
               FROM events),
    g AS (SELECT user_id, cast(floor(gap) as bigint) AS gap_s FROM p
          WHERE gap IS NOT NULL)
    SELECT user_id, cast(count(*) as bigint) AS n_gaps,
           cast(max(gap_s) as bigint) AS max_gap_s,
           cast(sum(CASE WHEN gap_s > 86400 THEN 1 ELSE 0 END) as bigint)
             AS n_gaps_over_1d,
           cast(sum(gap_s) as bigint) AS span_s
    FROM g GROUP BY 1
    """,
)
def q_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry-gap QA per user: largest silent interval, count of >1-day
    gaps, and the observed span — the completeness check a mobility or
    clickstream pipeline runs before trusting per-user statistics. One
    user window + one user agg on the same partitioning."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.col("ts").cast("timestamp").cast("double")
    g = (
        e.withColumn("gap", ep - F.lag(ep).over(w))
        .filter(F.col("gap").isNotNull())
        .select("user_id", F.floor("gap").cast("long").alias("gap_s"))
    )
    return g.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
        F.sum(F.expr("CASE WHEN gap_s > 86400 THEN 1 ELSE 0 END"))
        .cast("long").alias("n_gaps_over_1d"),
        F.sum("gap_s").cast("long").alias("span_s"),
    )


# --- supply-chain shipping distance (TPC-H graph x key-derived geometry) --------


@register(
    "q_supply_distance",
    f"""
    WITH c AS (SELECT c_custkey, c_nationkey,
                      {P.key_lat_sql('c_custkey')} AS clat,
                      {P.key_lon_sql('c_custkey')} AS clon FROM customer),
    s AS (SELECT s_suppkey, {P.key_lat_sql('s_suppkey')} AS slat,
                 {P.key_lon_sql('s_suppkey')} AS slon FROM supplier),
    j AS (SELECT c.c_nationkey, l.l_orderkey, l.l_linenumber,
            {P.floor_scaled_sql(P.haversine_m_sql(
                'c.clat', 'c.clon', 's.slat', 's.slon'), 0)} AS d_m
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN c ON c.c_custkey = o.o_custkey
          JOIN s ON s.s_suppkey = l.l_suppkey),
    a AS (SELECT c_nationkey, cast(count(*) as bigint) AS n_lines,
                 cast(sum(d_m) as bigint) AS sum_m,
                 cast(max(d_m) as bigint) AS max_m
          FROM j GROUP BY 1)
    SELECT n.n_name, a.n_lines,
           cast({P.bigint_div('a.sum_m', 'a.n_lines', P.DUCK)} as bigint)
             AS mean_m,
           a.max_m
    FROM a JOIN nation n ON n.n_nationkey = a.c_nationkey
    """,
)
def q_supply_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain shipping distance by customer nation: every lineitem's
    customer↔supplier great-circle distance through the orders graph
    (metre-floored before the exact bigint mean) — the TPC-H join shape
    with the engine's geometry grafted on. lineitem⋈orders shuffles on
    the order key; customer/supplier sides broadcast at driver SFs and
    stay dimension-shaped at any scale."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.expr(P.key_lat_sql("c_custkey")).alias("clat"),
        F.expr(P.key_lon_sql("c_custkey")).alias("clon"),
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(P.key_lat_sql("s_suppkey")).alias("slat"),
        F.expr(P.key_lon_sql("s_suppkey")).alias("slon"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "c_nationkey",
            F.expr(P.floor_scaled_sql(P.haversine_m_sql(
                "clat", "clon", "slat", "slon"), 0)).alias("d_m"),
        )
    )
    a = j.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("d_m").alias("sum_m"),
        F.max("d_m").cast("long").alias("max_m"),
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return a.join(F.broadcast(n), a["c_nationkey"] == n["n_nationkey"]).select(
        "n_name", "n_lines",
        F.expr("cast((sum_m div n_lines) as bigint)").alias("mean_m"),
        "max_m",
    )


# --- leg-speed percentiles ------------------------------------------------------


@register(
    "q_speed_profile",
    f"""
    WITH e AS (SELECT user_id, event_id, date_part('epoch', ts) AS ep,
                      {_CH_LAT} AS lat, {_CH_LON} AS lon FROM events),
    w AS (SELECT user_id, event_id, lat, lon, ep,
                 lag(lat) OVER win AS plat, lag(lon) OVER win AS plon,
                 lag(ep) OVER win AS pep
          FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ep, event_id)),
    s AS (SELECT user_id, event_id,
            {P.floor_scaled_sql(
                f"(({P.haversine_m_sql('plat', 'plon', 'lat', 'lon')}) "
                "/ (ep - pep))", 3)} AS v_e3
          FROM w WHERE plat IS NOT NULL AND ep - pep > 0),
    r AS (SELECT v_e3,
                 row_number() OVER (ORDER BY v_e3, user_id, event_id) AS rn,
                 count(*) OVER () AS n FROM s)
    SELECT cast(min(n) as bigint) AS n_legs,
           max(CASE WHEN rn = (n - 1) // 2 + 1 THEN v_e3 END) AS p50_e3,
           max(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN v_e3 END) AS p90_e3,
           max(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN v_e3 END)
             AS p99_e3
    FROM r
    """,
)
def q_speed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide leg-speed profile: exact p50/p90/p99 of great-circle
    speed over every consecutive-event leg (e3 m/s, (v, user, event)
    total order) — the sanity distribution the GPS spike threshold is
    read off. One user window + the q_quantiles rank machinery."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("cast(cast(ts as timestamp) as double)").alias("ep"),
        F.expr(_CH_LAT).alias("lat"), F.expr(_CH_LON).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    d = (
        e.withColumn("plat", F.lag("lat").over(w))
        .withColumn("plon", F.lag("lon").over(w))
        .withColumn("pep", F.lag("ep").over(w))
    )
    s = d.filter(
        F.col("plat").isNotNull() & (F.col("ep") - F.col("pep") > 0)
    ).select(
        "user_id", "event_id",
        F.expr(fs(
            f"(({P.haversine_m_sql('plat', 'plon', 'lat', 'lon')}) "
            "/ (ep - pep))", 3)).alias("v_e3"),
    )
    r = s.withColumn(
        "rn", F.row_number().over(Window.orderBy("v_e3", "user_id", "event_id"))
    ).withColumn("n", F.count("*").over(Window.partitionBy()))
    return r.agg(
        F.min("n").cast("long").alias("n_legs"),
        F.max(F.expr("CASE WHEN rn = (n - 1) div 2 + 1 THEN v_e3 END"))
        .alias("p50_e3"),
        F.max(F.expr("CASE WHEN rn = ((n - 1) * 9) div 10 + 1 THEN v_e3 END"))
        .alias("p90_e3"),
        F.max(F.expr("CASE WHEN rn = ((n - 1) * 99) div 100 + 1 THEN v_e3 END"))
        .alias("p99_e3"),
    )


# --- conversion by home region (geo x funnel cross) -----------------------------


@register(
    "q_geo_conversion",
    f"""
    WITH e AS (SELECT user_id, event_id, event_type,
                      {_CH_LAT} AS lat, {_CH_LON} AS lon,
                      cast(floor(date_part('epoch', ts) / 3600) % 24 as bigint)
                        AS hod
               FROM events),
    nv AS (SELECT user_id, {P.cell_id_sql('lat', 'lon', 3)} AS cell,
                  cast(count(*) as bigint) AS nc
           FROM e WHERE hod < 6 GROUP BY 1, 2),
    home AS (SELECT user_id, cell AS home_cell FROM
               (SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY nc DESC, cell ASC) AS rk FROM nv) q WHERE rk = 1),
    conv AS (SELECT user_id,
                    max(CASE WHEN event_type = 'purchase'
                             AND event_id % 7 = 0 THEN 1 ELSE 0 END) AS c
             FROM e GROUP BY 1),
    a AS (SELECT h.home_cell, cast(count(*) as bigint) AS n_users,
                 cast(sum(c.c) as bigint) AS n_converted
          FROM home h JOIN conv c USING (user_id) GROUP BY 1)
    SELECT home_cell, n_users, n_converted,
           {P.floor_scaled_sql(
               '(cast(n_converted as double) / cast(n_users as double))', 6)}
             AS conv_e6
    FROM a
    """,
)
def q_geo_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion by home region: users anchored to their night-hours
    res-3 cell (the q_home_work rule), qualifying-purchase conversion
    per cell — the geo×funnel cross every growth team asks for. All
    user-keyed aggregates on one partitioning, cell table tiny."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr(_CH_LAT).alias("lat"), F.expr(_CH_LON).alias("lon"),
        F.expr(
            "cast(floor(cast(cast(ts as timestamp) as double) / 3600) % 24 "
            "as bigint)"
        ).alias("hod"),
    )
    nv = (
        e.filter(F.col("hod") < 6)
        .groupBy("user_id", F.expr(P.cell_id_sql("lat", "lon", 3)).alias("cell"))
        .agg(F.count("*").alias("nc"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("nc"), F.asc("cell"))
    home = (
        nv.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("cell").alias("home_cell"))
    )
    conv = e.groupBy("user_id").agg(
        F.max(
            F.expr("CASE WHEN event_type = 'purchase' AND event_id % 7 = 0 "
                   "THEN 1 ELSE 0 END")
        ).alias("c")
    )
    a = home.join(conv, "user_id").groupBy("home_cell").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("n_converted"),
    )
    return a.select(
        "home_cell", "n_users", "n_converted",
        F.expr(fs(
            "(cast(n_converted as double) / cast(n_users as double))", 6)
        ).alias("conv_e6"),
    )


# --- activity heatmap (day-of-week x hour) --------------------------------------


@register(
    "q_activity_heatmap",
    f"""
    WITH b AS (SELECT
        cast((floor(date_part('epoch', ts) / 86400) + 4) % 7 as bigint) AS dow,
        cast(floor(date_part('epoch', ts) / 3600) % 24 as bigint) AS hour,
        cast(count(*) as bigint) AS n
      FROM events GROUP BY 1, 2),
    t AS (SELECT cast(sum(n) as bigint) AS tot,
                 cast(max(n) as bigint) AS peak FROM b)
    SELECT b.dow, b.hour, b.n,
           {P.floor_scaled_sql('(cast(b.n as double) / cast(t.tot as double))', 6)}
             AS share_e6,
           (b.n = t.peak) AS is_peak
    FROM b CROSS JOIN t
    """,
)
def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops-dashboard heatmap: event counts by (day-of-week, hour) —
    dow from the portable epoch day index (+4 pins 1970-01-01 to
    Thursday) — with per-bucket share and the peak flag. One 7×24-bounded
    aggregate."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events")
    ep = "cast(cast(ts as timestamp) as double)"
    b = e.groupBy(
        F.expr(f"cast((floor({ep} / 86400) + 4) % 7 as bigint)").alias("dow"),
        F.expr(f"cast(floor({ep} / 3600) % 24 as bigint)").alias("hour"),
    ).agg(F.count("*").alias("n"))
    t = b.agg(
        F.sum("n").cast("long").alias("tot"),
        F.max("n").cast("long").alias("peak"),
    )
    return b.crossJoin(F.broadcast(t)).select(
        "dow", "hour", F.col("n").cast("long"),
        F.expr(fs("(cast(n as double) / cast(tot as double))", 6))
        .alias("share_e6"),
        (F.col("n") == F.col("peak")).alias("is_peak"),
    )


# --- crawl freshness per host ---------------------------------------------------


@register(
    "q_crawl_freshness",
    f"""
    WITH p AS (SELECT
        'https://site' || cast(doc_id % 1000 as varchar) || '.example' AS host,
        cast(2025 as bigint) * 0 + cast((doc_id * 137) % 31536000 as bigint)
          AS age_s
      FROM documents),
    a AS (SELECT host, cast(count(*) as bigint) AS n_pages,
                 cast(min(age_s) as bigint) AS newest_s,
                 cast(max(age_s) as bigint) AS oldest_s
          FROM p GROUP BY 1)
    SELECT host, n_pages, newest_s, oldest_s,
           cast(oldest_s - newest_s as bigint) AS span_s,
           (oldest_s - newest_s > 15768000) AS is_stale_mix
    FROM a
    """,
)
def q_crawl_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl freshness per host: newest/oldest fetch offsets and the span,
    flagging hosts whose snapshots mix fetches more than half a year
    apart — the recrawl-scheduling signal. Exact integer seconds from
    the deterministic warc_ts offsets; one host aggregate."""
    d = load(spark, sf_dir, "documents")
    p = d.select(
        F.expr("'https://site' || cast(doc_id % 1000 as string) || '.example'")
        .alias("host"),
        F.expr("cast((doc_id * 137) % 31536000 as bigint)").alias("age_s"),
    )
    a = p.groupBy("host").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.min("age_s").cast("long").alias("newest_s"),
        F.max("age_s").cast("long").alias("oldest_s"),
    )
    return a.select(
        "host", "n_pages", "newest_s", "oldest_s",
        (F.col("oldest_s") - F.col("newest_s")).cast("long").alias("span_s"),
        (F.col("oldest_s") - F.col("newest_s") > 15768000).alias("is_stale_mix"),
    )


# --- Pareto host coverage -------------------------------------------------------


@register(
    "q_pareto_hosts",
    f"""
    WITH h AS (SELECT 'https://site' || cast(doc_id % 1000 as varchar)
                      || '.example' AS host,
                      cast(count(*) as bigint) AS n
               FROM documents GROUP BY 1),
    r AS (SELECT host, n,
                 sum(n) OVER (ORDER BY n DESC, host ASC
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(n) OVER () AS tot,
                 row_number() OVER (ORDER BY n DESC, host ASC) AS rk
          FROM h)
    SELECT cast(min(CASE WHEN 2 * cum >= tot THEN rk END) as bigint)
             AS hosts_for_50pct,
           cast(min(CASE WHEN 10 * cum >= 9 * tot THEN rk END) as bigint)
             AS hosts_for_90pct,
           cast(min(tot) as bigint) AS n_pages,
           cast(count(*) as bigint) AS n_hosts
    FROM r
    """,
)
def q_pareto_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage: how many hosts (largest first, count-then-name
    order) hold 50% and 90% of the corpus — the 'top-N hosts' line of
    every dataset card, computed with one host-table cumsum window and
    exact integer threshold tests (2·cum ≥ tot, 10·cum ≥ 9·tot)."""
    h = load(spark, sf_dir, "documents").groupBy(
        F.expr("'https://site' || cast(doc_id % 1000 as string) || '.example'")
        .alias("host")
    ).agg(F.count("*").alias("n"))
    wo = Window.orderBy(F.desc("n"), F.asc("host")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = (
        h.withColumn("cum", F.sum("n").over(wo))
        .withColumn("tot", F.sum("n").over(Window.partitionBy()))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("host")))
        )
    )
    return r.agg(
        F.min(F.expr("CASE WHEN 2 * cum >= tot THEN rk END"))
        .cast("long").alias("hosts_for_50pct"),
        F.min(F.expr("CASE WHEN 10 * cum >= 9 * tot THEN rk END"))
        .cast("long").alias("hosts_for_90pct"),
        F.min("tot").cast("long").alias("n_pages"),
        F.count("*").cast("long").alias("n_hosts"),
    )


# --- session-depth distribution -------------------------------------------------


@register(
    "q_session_depth",
    """
    WITH g AS (SELECT user_id, ts, event_id,
                      CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                           THEN 0 ELSE 1 END AS new_s
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
          FROM g),
    d AS (SELECT user_id, session_no, cast(count(*) as bigint) AS depth
          FROM s GROUP BY 1, 2)
    SELECT depth, cast(count(*) as bigint) AS n_sessions
    FROM d GROUP BY 1
    """,
)
def q_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth histogram (events per 30-min-gap session) — the
    engagement distribution behind bounce-rate and depth percentiles.
    Reuses the sessionization window; the histogram aggregate is
    depth-bounded."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    ep = F.col("ts").cast("timestamp").cast("double")
    g = e.withColumn(
        "new_s", F.when(ep - F.lag(ep).over(w) <= 1800, 0).otherwise(1)
    )
    s = g.withColumn("session_no", F.sum("new_s").over(cum))
    d = s.groupBy("user_id", "session_no").agg(F.count("*").alias("depth"))
    return d.groupBy("depth").agg(
        F.count("*").cast("long").alias("n_sessions")
    ).select(F.col("depth").cast("long"), "n_sessions")


# --- week-over-week movers ------------------------------------------------------


@register(
    "q_wow_change",
    f"""
    WITH b AS (SELECT event_type,
                      cast(floor(date_part('epoch', ts) / 604800) as bigint)
                        AS week,
                      cast(count(*) as bigint) AS n
               FROM events GROUP BY 1, 2),
    l AS (SELECT a.event_type, a.week, a.n,
                 b.n AS prev_n
          FROM b a JOIN b b ON b.event_type = a.event_type
                           AND b.week = a.week - 1)
    SELECT event_type, week, n, prev_n,
           cast(n - prev_n as bigint) AS delta,
           CASE WHEN prev_n > 0 THEN {P.floor_scaled_sql(
               '(cast(n - prev_n as double) / cast(prev_n as double))', 6)}
                ELSE cast(0 as bigint) END AS pct_change_e6
    FROM l
    """,
)
def q_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movers: per event type the weekly count, absolute
    delta and percent change vs the previous epoch-week — the simplest
    growth-report primitive, exact integers until the single quantized
    division."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type",
        F.expr(
            "cast(floor(cast(cast(ts as timestamp) as double) / 604800) "
            "as bigint)"
        ).alias("week"),
    ).agg(F.count("*").alias("n"))
    a = b.select("event_type", "week", "n")
    p = b.select(
        F.col("event_type").alias("_tb"), F.col("week").alias("_wb"),
        F.col("n").alias("prev_n"),
    )
    l = a.join(
        p, (F.col("event_type") == F.col("_tb"))
        & (F.col("_wb") == F.col("week") - 1),
    )
    pct = (
        "CASE WHEN prev_n > 0 THEN "
        + fs("(cast(n - prev_n as double) / cast(prev_n as double))", 6)
        + " ELSE cast(0 as bigint) END"
    )
    return l.select(
        "event_type", "week", F.col("n").cast("long"),
        F.col("prev_n").cast("long"),
        (F.col("n") - F.col("prev_n")).cast("long").alias("delta"),
        F.expr(pct).alias("pct_change_e6"),
    )


# --- cart abandonment -----------------------------------------------------------


@register(
    "q_abandonment",
    """
    WITH s1 AS (SELECT user_id, min(struct_pack(ts := ts, eid := event_id)) AS m
                FROM events WHERE event_type = 'click' GROUP BY 1),
    s2 AS (SELECT e.user_id,
                  cast(count(*) as bigint) AS n_purch
           FROM events e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'purchase'
             AND (e.ts > (s1.m).ts OR (e.ts = (s1.m).ts
                  AND e.event_id > (s1.m).eid))
           GROUP BY 1)
    SELECT s1.user_id, (s2.user_id IS NULL) AS abandoned
    FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
    """,
)
def q_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart abandonment: users who clicked but never purchased afterwards
    (strict (ts, event_id) order) — the funnel's complement set that
    retargeting pipelines consume. One stage pick + one left anti-shaped
    join on the user key."""
    e = load(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.struct(F.col("ts").alias("ts"),
                            F.col("event_id").alias("eid"))).alias("m"))
    )
    s2 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s1.select(F.col("user_id").alias("_u"), F.col("m").alias("_m")),
              F.col("user_id") == F.col("_u"))
        .filter(
            (F.col("ts") > F.col("_m.ts"))
            | ((F.col("ts") == F.col("_m.ts"))
               & (F.col("event_id") > F.col("_m.eid")))
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purch"))
        .select(F.col("user_id").alias("_pu"))
    )
    return s1.join(s2, F.col("user_id") == F.col("_pu"), "left").select(
        "user_id", F.col("_pu").isNull().alias("abandoned")
    )


# --- language-by-zone lift (geo x lang association) -----------------------------


def _lang_lift_oracle() -> str:
    from gaia_spark.queries import GEOPARSE_RE2, ZONES_CTE, _PAGES_CTE

    fs = P.floor_scaled_sql
    pages_l = _PAGES_CTE.replace("FROM documents)", ", lang FROM documents)")
    return f"""
    WITH {pages_l}, {ZONES_CTE},
    g AS (SELECT lang,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 3), '')
                      as double) AS lat,
                 cast(nullif(regexp_extract(text, '{GEOPARSE_RE2}', 4), '')
                      as double) AS lon
          FROM pages),
    j AS (SELECT z.zone_id, p.lang FROM g p JOIN zones z
            ON p.lat >= z.min_lat AND p.lat <= z.max_lat
           AND p.lon >= z.min_lon AND p.lon <= z.max_lon
          WHERE p.lat IS NOT NULL),
    zl AS (SELECT zone_id, lang, cast(count(*) as bigint) AS n
           FROM j GROUP BY 1, 2),
    zt AS (SELECT zone_id, cast(sum(n) as bigint) AS nz FROM zl GROUP BY 1),
    lt AS (SELECT lang, cast(sum(n) as bigint) AS nl FROM zl GROUP BY 1),
    tt AS (SELECT cast(sum(n) as bigint) AS tot FROM zl)
    SELECT zl.zone_id, zl.lang, zl.n,
           {fs('(cast(zl.n as double) * cast(tt.tot as double) '
               '/ (cast(zt.nz as double) * cast(lt.nl as double)))', 6)}
             AS lift_e6
    FROM zl JOIN zt USING (zone_id) JOIN lt USING (lang) CROSS JOIN tt
    """


@register("q_lang_lift", _lang_lift_oracle())
def q_lang_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-by-zone lift: which languages over-index in which zones —
    lift = p(lang, zone) / (p(lang)·p(zone)) over the geoparsed within
    join, the geo×lang association map. Exact counts, one quantized
    division; all margin tables are zone/lang-bounded."""
    from gaia_spark.functions.geoparse import geoparse
    from gaia_spark.operators.spatial_join import spatial_join
    from gaia_spark.queries import _zone_index, pages_from_documents

    fs = P.floor_scaled_sql
    pts = geoparse(pages_from_documents(spark, sf_dir)).filter(
        F.col("lat").isNotNull()
    )
    idx = _zone_index()
    j = spatial_join(pts, idx, predicate="intersects", point_key="url")
    zl = j.groupBy("zone_id", "lang").agg(F.count("*").alias("n"))
    zt = zl.groupBy("zone_id").agg(F.sum("n").cast("long").alias("nz"))
    lt = zl.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
    tt = zl.agg(F.sum("n").cast("long").alias("tot"))
    return (
        zl.join(F.broadcast(zt), "zone_id")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tt))
        .select(
            "zone_id", "lang", F.col("n").cast("long"),
            F.expr(fs(
                "(cast(n as double) * cast(tot as double) "
                "/ (cast(nz as double) * cast(nl as double)))", 6)
            ).alias("lift_e6"),
        )
    )


# --- first-touch attribution ----------------------------------------------------


@register(
    "q_attribution",
    f"""
    WITH ft AS (SELECT user_id,
                       min(struct_pack(ts := ts, eid := event_id,
                                       t := event_type)) AS m
                FROM events GROUP BY 1),
    buyers AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase' AND event_id % 7 = 0),
    a AS (SELECT (ft.m).t AS first_touch,
                 CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv
          FROM ft LEFT JOIN buyers b ON b.user_id = ft.user_id)
    SELECT first_touch, cast(count(*) as bigint) AS n_users,
           cast(sum(conv) as bigint) AS n_converted,
           {P.floor_scaled_sql(
               '(cast(sum(conv) as double) / cast(count(*) as double))', 6)}
             AS conv_e6
    FROM a GROUP BY 1
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: conversion rate by each user's very first
    event type ((ts, event_id, type) struct-min pick — deterministic
    under timestamp ties) — the entry-channel report. One user agg + a
    type-bounded rollup."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events")
    ft = e.groupBy("user_id").agg(
        F.min(F.struct(F.col("ts").alias("ts"),
                       F.col("event_id").alias("eid"),
                       F.col("event_type").alias("t"))).alias("m")
    )
    buyers = (
        e.filter(F.expr("event_type = 'purchase' AND event_id % 7 = 0"))
        .select(F.col("user_id").alias("_bu"))
        .distinct()
    )
    a = ft.join(buyers, F.col("user_id") == F.col("_bu"), "left").select(
        F.col("m.t").alias("first_touch"),
        F.col("_bu").isNotNull().cast("int").alias("conv"),
    )
    return a.groupBy("first_touch").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_converted"),
        F.expr(fs(
            "(cast(sum(conv) as double) / cast(count(*) as double))", 6)
        ).alias("conv_e6"),
    )


# --- event value statistics -----------------------------------------------------


@register(
    "q_value_stats",
    f"""
    WITH v AS (SELECT event_type, {P.floor_scaled_sql('value', 2)} AS v_e2
               FROM events)
    SELECT event_type, cast(count(*) as bigint) AS n,
           cast(sum(v_e2) as bigint) AS sum_e2,
           cast(min(v_e2) as bigint) AS min_e2,
           cast(max(v_e2) as bigint) AS max_e2,
           cast({P.bigint_div('sum(v_e2)', 'count(*)', P.DUCK)} as bigint)
             AS mean_e2
    FROM v GROUP BY 1
    """,
)
def q_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-value statistics per type: exact e2 fixed-point sum/min/max
    and the exact-integer mean (floor division on the non-negative e2
    sum) — the revenue-rollup primitive on the events table's value
    column."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events")
    v = e.select("event_type", F.expr(fs("value", 2)).alias("v_e2"))
    return v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_e2").cast("long").alias("sum_e2"),
        F.min("v_e2").cast("long").alias("min_e2"),
        F.max("v_e2").cast("long").alias("max_e2"),
        F.expr("cast((sum(v_e2) div count(*)) as bigint)").alias("mean_e2"),
    )


# --- RFM segmentation -----------------------------------------------------------


@register(
    "q_rfm",
    f"""
    WITH p AS (SELECT user_id, date_part('epoch', ts) AS ep,
                      {P.floor_scaled_sql('value', 2)} AS v_e2
               FROM events WHERE event_type = 'purchase'),
    u AS (SELECT user_id,
                 cast(floor(max(ep)) as bigint) AS last_ep,
                 cast(count(*) as bigint) AS freq,
                 cast(sum(v_e2) as bigint) AS monetary_e2
          FROM p GROUP BY 1),
    mx AS (SELECT cast(max(last_ep) as bigint) AS now_ep,
                  cast(count(*) as bigint) AS n FROM u),
    s AS (SELECT u.*, mx.n, mx.now_ep - u.last_ep AS recency_s,
                 row_number() OVER (ORDER BY mx.now_ep - u.last_ep ASC,
                                    u.user_id) AS rr,
                 row_number() OVER (ORDER BY u.freq DESC, u.user_id) AS rf,
                 row_number() OVER (ORDER BY u.monetary_e2 DESC, u.user_id)
                   AS rm
          FROM u CROSS JOIN mx)
    SELECT user_id, cast(recency_s as bigint) AS recency_s, freq, monetary_e2,
           cast(3 - ((rr - 1) * 3) // n as bigint) AS r_score,
           cast(3 - ((rf - 1) * 3) // n as bigint) AS f_score,
           cast(3 - ((rm - 1) * 3) // n as bigint) AS m_score
    FROM s
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of purchasers: recency (seconds before the last
    corpus purchase), frequency and e2 monetary sum, each scored into
    exact-integer terciles by (metric, user_id)-ordered rank — the CRM
    segmentation primitive with no float anywhere. The rank windows sort
    only the purchaser table."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    fs = P.floor_scaled_sql
    u = e.groupBy("user_id").agg(
        F.expr("cast(floor(max(cast(cast(ts as timestamp) as double))) "
               "as bigint)").alias("last_ep"),
        F.count("*").cast("long").alias("freq"),
        F.sum(F.expr(fs("value", 2))).cast("long").alias("monetary_e2"),
    )
    mx = u.agg(
        F.max("last_ep").cast("long").alias("now_ep"),
        F.count("*").cast("long").alias("n"),
    )
    s = (
        u.crossJoin(F.broadcast(mx))
        .withColumn("recency_s", F.col("now_ep") - F.col("last_ep"))
        .withColumn("rr", F.row_number().over(
            Window.orderBy(F.asc("recency_s"), F.asc("user_id"))))
        .withColumn("rf", F.row_number().over(
            Window.orderBy(F.desc("freq"), F.asc("user_id"))))
        .withColumn("rm", F.row_number().over(
            Window.orderBy(F.desc("monetary_e2"), F.asc("user_id"))))
    )
    return s.select(
        "user_id", F.col("recency_s").cast("long"), "freq", "monetary_e2",
        F.expr("cast(3 - ((rr - 1) * 3) div n as bigint)").alias("r_score"),
        F.expr("cast(3 - ((rf - 1) * 3) div n as bigint)").alias("f_score"),
        F.expr("cast(3 - ((rm - 1) * 3) div n as bigint)").alias("m_score"),
    )


# --- Lorenz deciles of host mass ------------------------------------------------


@register(
    "q_lorenz_deciles",
    f"""
    WITH h AS (SELECT 'https://site' || cast(doc_id % 1000 as varchar)
                      || '.example' AS host,
                      cast(count(*) as bigint) AS n
               FROM documents GROUP BY 1),
    r AS (SELECT n,
                 row_number() OVER (ORDER BY n ASC, host ASC) AS rk,
                 count(*) OVER () AS nh, sum(n) OVER () AS tot
          FROM h),
    d AS (SELECT cast(((rk - 1) * 10) // nh as bigint) AS decile,
                 n, tot FROM r),
    a AS (SELECT decile, cast(sum(n) as bigint) AS mass,
                 cast(min(tot) as bigint) AS tot FROM d GROUP BY 1),
    c AS (SELECT decile, mass, tot,
                 cast(sum(mass) OVER (ORDER BY decile
                        ROWS UNBOUNDED PRECEDING) as bigint) AS cum
          FROM a)
    SELECT decile, mass,
           {P.floor_scaled_sql('(cast(cum as double) / cast(tot as double))', 6)}
             AS cum_share_e6
    FROM c
    """,
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve deciles of per-host page mass (hosts ranked ascending,
    exact decile buckets ((rk−1)·10)//n, cumulative share e6) — the
    plot-ready companion of the Gini diagnostics. Rank + cumsum windows
    over the HOST table only."""
    fs = P.floor_scaled_sql
    h = load(spark, sf_dir, "documents").groupBy(
        F.expr("'https://site' || cast(doc_id % 1000 as string) || '.example'")
        .alias("host")
    ).agg(F.count("*").alias("n"))
    r = (
        h.withColumn("rk", F.row_number().over(
            Window.orderBy(F.asc("n"), F.asc("host"))))
        .withColumn("nh", F.count("*").over(Window.partitionBy()))
        .withColumn("tot", F.sum("n").over(Window.partitionBy()))
    )
    d = r.select(
        F.expr("cast(((rk - 1) * 10) div nh as bigint)").alias("decile"),
        "n", "tot",
    )
    a = d.groupBy("decile").agg(
        F.sum("n").cast("long").alias("mass"),
        F.min("tot").cast("long").alias("tot"),
    )
    c = a.withColumn(
        "cum",
        F.sum("mass").over(
            Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    return c.select(
        "decile", "mass",
        F.expr(fs("(cast(cum as double) / cast(tot as double))", 6))
        .alias("cum_share_e6"),
    )


# --- activity half-life ---------------------------------------------------------


@register(
    "q_half_life",
    f"""
    WITH d AS (SELECT DISTINCT user_id, {_DAY_DUCK} AS day FROM events),
    c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
    a AS (SELECT d.day - c.cohort_day AS offset_d,
                 cast(count(*) as bigint) AS n_active
          FROM d JOIN c USING (user_id)
          WHERE d.day - c.cohort_day BETWEEN 0 AND 7
          GROUP BY 1),
    q AS (SELECT cast(offset_d as bigint) AS x,
                 {P.floor_scaled_sql('ln(cast(n_active as double))', 6)} AS y_e6
          FROM a WHERE n_active > 0),
    m AS (SELECT cast(count(*) as bigint) AS k,
                 cast(sum(x) as bigint) AS sx, cast(sum(y_e6) as bigint) AS sy,
                 cast(sum(x * y_e6) as bigint) AS sxy,
                 cast(sum(x * x) as bigint) AS sxx
          FROM q)
    SELECT k AS n_offsets,
      {P.floor_scaled_sql(
          '(cast(k * sxy - sx * sy as double) '
          '/ cast((k * sxx - sx * sx) * 1000000 as double))', 6)} AS slope_e6,
      CASE WHEN k * sxy - sx * sy < 0 THEN {P.floor_scaled_sql(
          '(ln(cast(2 as double)) '
          '/ (-(cast(k * sxy - sx * sy as double) '
          '/ cast((k * sxx - sx * sx) * 1000000 as double))))', 3)}
           ELSE cast(0 as bigint) END AS half_life_days_e3
    FROM m
    """,
)
def q_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity half-life: exponential-decay fit of the aggregate day-0..7
    active-user curve (integer offsets, e6-prequantized ln counts, exact
    moments) — half-life = ln2/|slope|, reported only when the curve
    actually decays. The one-number summary product teams quote from the
    q_cohort table."""
    fs = P.floor_scaled_sql
    e = load(spark, sf_dir, "events")
    d = e.select("user_id", F.expr(_DAY_SPARK).alias("day")).distinct()
    c = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    a = (
        d.join(c, "user_id")
        .withColumn("offset_d", F.col("day") - F.col("cohort_day"))
        .filter((F.col("offset_d") >= 0) & (F.col("offset_d") <= 7))
        .groupBy("offset_d")
        .agg(F.count("*").alias("n_active"))
    )
    q = a.filter(F.col("n_active") > 0).select(
        F.col("offset_d").cast("long").alias("x"),
        F.expr(fs("ln(cast(n_active as double))", 6)).alias("y_e6"),
    )
    m = q.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x").alias("sx"), F.sum("y_e6").alias("sy"),
        F.sum(F.col("x") * F.col("y_e6")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = ("(cast(k * sxy - sx * sy as double) "
             "/ cast((k * sxx - sx * sx) * 1000000 as double))")
    hl = (
        "CASE WHEN k * sxy - sx * sy < 0 THEN "
        + fs(f"(ln(cast(2 as double)) / (-{slope}))", 3)
        + " ELSE cast(0 as bigint) END"
    )
    return m.select(
        F.col("k").alias("n_offsets"),
        F.expr(fs(slope, 6)).alias("slope_e6"),
        F.expr(hl).alias("half_life_days_e3"),
    )
