"""URL functions for web-page tables: host / path / TLD extraction and
host-level aggregation keys.

Role: the web-pipeline companions to geoparse — per-host dedup scopes,
host-level quality priors, crawl-politeness partitioning all key on the
registrable host. Built on ONE regex evaluated verbatim in both engines
(Spark's ``parse_url`` has no DuckDB twin; ``regexp_extract`` with an
identical pattern does, and both return '' on no-match, normalized to NULL
via nullif).
"""

from __future__ import annotations

_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)"
# [.] not \. — Spark SQL string literals eat backslashes, DuckDB's don't;
# a class-escaped dot is byte-identical in both
_TLD_RE = "[.]([a-zA-Z0-9-]+)$"


def host_sql(url: str) -> str:
    """Authority component (host[:port]) — '' → NULL. Same string in both
    dialects (Spark regexp_extract and DuckDB regexp_extract share RE2-safe
    syntax here)."""
    return f"nullif(regexp_extract({url}, '{_HOST_RE}', 1), '')"


def path_sql(url: str) -> str:
    return f"nullif(regexp_extract({url}, '{_PATH_RE}', 1), '')"


def tld_sql(url: str) -> str:
    """Last dot-label of the host (naive TLD — no public-suffix list
    offline; good enough for grouping keys, documented limit)."""
    return f"nullif(regexp_extract({host_sql(url)}, '{_TLD_RE}', 1), '')"


# --- HTML → text extraction (the Common-Crawl preprocessing step) ------------
#
# Role: `[R] web-page ingestion` — a pages table carries html:binary; every
# downstream text operator (geoparse, dedup, quality, lang-id) consumes the
# EXTRACTED text, so the extraction itself must be deterministic and
# engine-independent. Scale shape: a regexp_replace/replace chain is pure
# JVM whole-stage-codegen — map-only, zero shuffle, no Python.
#
# Patterns are backslash-free (the Spark-literal-eats-backslashes lesson) and
# RE2-safe (non-greedy + inline (?s) work in both Java regex and RE2).

SPARK = "spark"
DUCK = "duck"

_COMMENT_RE = "(?s)<!--.*?-->"
_SCRIPT_RE = "(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>"
_STYLE_RE = "(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>"
_TAG_RE = "<[^>]*>"

# decode order matters: '&amp;' LAST, so '&amp;lt;' yields the literal '&lt;'
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "''"),  # SQL-escaped apostrophe
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def _re_replace_all(s: str, pat: str, repl: str, dialect: str) -> str:
    """Global regexp_replace: Spark replaces all matches by default, DuckDB
    only the first unless passed the 'g' option."""
    if dialect == SPARK:
        return f"regexp_replace({s}, '{pat}', '{repl}')"
    return f"regexp_replace({s}, '{pat}', '{repl}', 'g')"


def html_to_text_sql(html: str, dialect: str) -> str:
    """Boilerplate-stripping text extraction from an HTML string: comments,
    then script/style blocks (their bodies may hold bare '<'), then all
    tags, then the six core entities, then whitespace collapse + trim.
    Stage order is load-bearing: tags strip BEFORE entity decode so decoded
    '&lt;cite&gt;' survives as literal text."""
    s = _re_replace_all(html, _COMMENT_RE, " ", dialect)
    s = _re_replace_all(s, _SCRIPT_RE, " ", dialect)
    s = _re_replace_all(s, _STYLE_RE, " ", dialect)
    s = _re_replace_all(s, _TAG_RE, " ", dialect)
    for ent, ch in _ENTITIES:
        s = f"replace({s}, '{ent}', '{ch}')"
    ws = "\\\\s+" if dialect == SPARK else "\\s+"
    return f"trim({_re_replace_all(s, ws, ' ', dialect)})"


def rich_html_sql(text: str, doc_id: str) -> str:
    """Deterministic 'real page' wrapper around a clean text column — head
    with title/style, a script whose body holds bare '<' and '&&', an HTML
    comment, attribute-laden tags, and an entity-laden footer. One shared
    string for both engines (||, cast as string, no backslashes), so the
    extraction chain chews identical bytes cross-engine."""
    return (
        "('<!DOCTYPE html><html><head><title>doc ' || cast("
        + doc_id
        + " as string) || '</title>"
        "<style type=''text/css''>body { color: #fff; }</style></head>"
        "<body data-id=''' || cast(" + doc_id + " as string) || '''>"
        "<script type=''text/javascript''>var v = 1 < 2 && f(''x'');</script>"
        "<!-- crawler <meta> noise -->"
        "<h1 class=''t''>Doc ' || cast(" + doc_id + " as string) || '</h1>"
        "<p>' || " + text + " || '</p>"
        "<div id=''footer''>&lt;cite&gt; A &amp; B &#39;26 &quot;q&quot;&nbsp;fin</div>"
        "</body></html>')"
    )


def extracted_expected_sql(text: str, doc_id: str) -> str:
    """The closed-form expected output of html_to_text_sql ∘ rich_html_sql —
    the byte-identity invariant a test can assert without running the
    extraction chain."""
    return (
        "('doc ' || cast(" + doc_id + " as string) || ' Doc ' || cast("
        + doc_id
        + " as string) || ' ' || " + text + " || ' <cite> A & B ''26 \"q\" fin')"
    )


# --- link extraction (the crawl-frontier / link-graph step) ------------------

_HREF_RE = 'href="([^"]+)"'


def linked_html_sql(text: str, doc_id: str) -> str:
    """Deterministic page html WITH OUTLINKS: the rich_html_sql idea plus
    three <a href="..."> anchors whose target hosts derive from the doc id
    (h{(id·(3+k)+k) mod 97}.example.com), a nofollow same-host self link
    the graph must keep (self loop), and NO anchors at all for docs whose
    host ≡ 0 (mod 10) — the dangling-mass fixture threaded through real
    extraction. Double-quoted attributes so the extraction pattern stays
    backslash-free."""
    h = f"(({doc_id}) % 97)"
    link = (
        "'<a href=\"http://h' || cast(({h} * {m} + {k}) % 97 as string) || "
        "'.example.com/p/{k}\">x</a>'"
    )
    links = " || ".join(
        link.format(h=h, m=3 + k, k=k) for k in range(3)
    )
    return (
        "('<html><head><title>d' || cast(" + doc_id + " as string) || '</title></head>"
        "<body><p>' || " + text + " || '</p>' || "
        f"CASE WHEN {h} % 10 = 0 THEN '' ELSE {links} || "
        f"'<a href=\"http://h' || cast({h} as string) || '.example.com/self\">me</a>' END || "
        "'</body></html>')"
    )


def extract_links_sql(html: str) -> str:
    """All href targets as an array — regexp_extract_all shares name and
    (string, pattern, group) signature in Spark and DuckDB."""
    return f"regexp_extract_all({html}, '{_HREF_RE}', 1)"


# --- anchor-text aggregation (link-context signal for crawl ranking) ----------

# captures (href, anchor text); backslash-free and RE2-safe, shared verbatim
_ANCHOR_RE = '<a href="([^"]+)"[^>]*>([^<]+)</a>'


def anchored_html_sql(text: str, doc_id: str) -> str:
    """Deterministic page html with VARIED anchor texts: three outlinks to
    hosts h{(id·(3+k)+k) mod 97} whose anchor text is w{(id·(k+2)+k) mod 13}
    (13 distinct labels → real majority contests per target host), a
    same-host self link labeled 'me', and NO anchors for host ≡ 0 (mod 10)
    docs (anchorless pages must not surface). Double-quoted attributes keep
    the extraction pattern backslash-free."""
    h = f"(({doc_id}) % 97)"
    link = (
        "'<a href=\"http://h' || cast(({h} * {m} + {k}) % 97 as string) || "
        "'.example.com/p/{k}\">w' || cast((({doc_id}) * {t} + {k}) % 13 as string) || '</a>'"
    )
    links = " || ".join(
        link.format(h=h, m=3 + k, k=k, t=k + 2, doc_id=doc_id) for k in range(3)
    )
    return (
        "('<html><head><title>d' || cast(" + doc_id + " as string) || '</title></head>"
        "<body><p>' || " + text + " || '</p>' || "
        f"CASE WHEN {h} % 10 = 0 THEN '' ELSE {links} || "
        f"'<a href=\"http://h' || cast({h} as string) || '.example.com/self\">me</a>' END || "
        "'</body></html>')"
    )


def anchor_pairs_arrays_sql(html: str, dialect: str) -> tuple[str, str]:
    """(hrefs, anchors) parallel arrays — regexp_extract_all with group 1
    then group 2; identical call shape in both engines."""
    return (
        f"regexp_extract_all({html}, '{_ANCHOR_RE}', 1)",
        f"regexp_extract_all({html}, '{_ANCHOR_RE}', 2)",
    )


def anchor_text_agg(pages, html_col: str = "html", min_count: int = 1):
    """Per-target-host anchor-text aggregation (the link-context signal
    search engines and crawl-frontier rankers attach to a page BEFORE
    fetching it): for every host linked anywhere in the corpus, the number
    of in-anchors, the number of distinct anchor texts, and the majority
    anchor text (ties toward the smaller text — the zonal_majority
    struct-min argmax, exact integer comparisons).

    Scale shape (100 TB): extraction is one JVM regexp over each page
    (map-only), pairs explode in-plan via ``arrays_zip`` (no Python), and
    the result is TWO combinable hash aggregations keyed by (host, anchor)
    then host — host-anchor cardinality, never page cardinality, crosses
    the shuffle. Returns (host, n_anchors, variety, top_anchor,
    top_anchor_n)."""
    import pyspark.sql.functions as F

    hrefs, anchors = anchor_pairs_arrays_sql(html_col, SPARK)
    pairs = (
        pages.select(F.expr(hrefs).alias("_hs"), F.expr(anchors).alias("_as"))
        .select(F.explode(F.arrays_zip("_hs", "_as")).alias("_p"))
        .select(F.col("_p._hs").alias("_href"), F.col("_p._as").alias("_anchor"))
        .select(F.expr(host_sql("_href")).alias("host"), "_anchor")
        .where("host IS NOT NULL")
    )
    ha = pairs.groupBy("host", "_anchor").agg(F.count("*").cast("long").alias("_n"))
    return (
        ha.groupBy("host")
        .agg(
            F.sum("_n").cast("long").alias("n_anchors"),
            F.count("*").cast("long").alias("variety"),
            F.min(
                F.struct((-F.col("_n")).alias("_k"), F.col("_anchor").alias("_a"))
            ).alias("_top"),
        )
        .where(F.col("n_anchors") >= min_count)
        .select(
            "host",
            "n_anchors",
            "variety",
            F.col("_top._a").alias("top_anchor"),
            (-F.col("_top._k")).cast("long").alias("top_anchor_n"),
        )
    )


# --- blocklist filtering (the RefinedWeb/CCNet URL-filter stage) ----------------


def host_suffixes_sql(host: str, dialect: str) -> str:
    """All dot-suffixes of a host ('a.b.c' → ['a.b.c', 'b.c', 'c']) — the
    key trick that turns domain-suffix blocklist matching into an
    EQUI-join: explode each host's ≤ ~6 suffixes in-plan and hash-join the
    rule table, instead of a rules × hosts LIKE scan."""
    if dialect == SPARK:
        parts = f"split({host}, '[.]')"
        return (
            f"transform(sequence(1, size({parts})), i -> "
            f"array_join(slice({parts}, i, size({parts})), '.'))"
        )
    parts = f"string_split({host}, '.')"
    return (
        f"list_transform(generate_series(1, len({parts})), i -> "
        f"array_to_string({parts}[i:], '.'))"
    )


def blocklist_filter(pages, rules: list[str], url_col: str = "url"):
    """Domain blocklist filtering: mark every page whose host equals a rule
    OR sits under a rule domain (suffix semantics — 'bad.example' blocks
    'www.bad.example'). Scale shape: hosts explode to their dot-suffixes
    in-plan (bounded fan-out), ONE broadcast equi-join against the rule
    table, one combinable min per url; the kept/blocked verdict rides back
    on a left join keyed by url. blocked_by = the lexicographically first
    matching rule, NULL when kept. Returns the input + (host, blocked_by)."""
    import pyspark.sql.functions as F

    from gaia_spark.session import local_df

    h = pages.withColumn("host", F.expr(host_sql(url_col)))
    rules_df = local_df(h.sparkSession, [(r,) for r in sorted(set(rules))], "rule string")
    sfx = h.select(
        url_col, F.explode(F.expr(host_suffixes_sql("host", SPARK))).alias("_sfx")
    )
    hits = (
        sfx.join(F.broadcast(rules_df), sfx["_sfx"] == rules_df["rule"])
        .groupBy(url_col)
        .agg(F.min("rule").alias("blocked_by"))
    )
    return h.join(hits, url_col, "left")


# --- URL canonicalization (crawl-dedup normalization key) ---------------------
#
# Role: `[R] web-page ingestion` — the canonical form that collapses trivially
# distinct spellings of the same resource BEFORE exact/near dedup: lowercase
# scheme+authority, default :80/:443 port stripped, fragment dropped, query
# parameters sorted, trailing path slashes trimmed ('' → '/'). Map-only
# JVM regex/array chain — zero shuffle, no Python; the grouping that counts
# collapsed variants is one hash agg.

_SCHEME_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_REST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(.*)$"


def _sorted_query_sql(q: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"array_join(array_sort(split({q}, '&')), '&')"
    return f"array_to_string(list_sort(string_split({q}, '&')), '&')"


def canonical_url_sql(url: str, dialect: str) -> str:
    """Canonical form of an absolute http(s) URL; NULL when ``url`` has no
    scheme://host prefix. Same text in both dialects except the array
    sort/join names. Policy choices (documented, not hidden): www. is KEPT
    (it is a distinct host), query VALUES are untouched (no %-decoding
    offline), empty query '?' collapses away."""
    u0 = f"regexp_replace({url}, '#.*$', '')"
    scheme = f"lower(regexp_extract({u0}, '{_SCHEME_RE}', 1))"
    hp = f"lower(regexp_extract({u0}, '{_HOST_RE}', 1))"
    hp_noport = (
        f"CASE WHEN {scheme} = 'https' THEN regexp_replace({hp}, ':443$', '') "
        f"WHEN {scheme} = 'http' THEN regexp_replace({hp}, ':80$', '') "
        f"ELSE {hp} END"
    )
    rest = f"regexp_extract({u0}, '{_REST_RE}', 1)"
    path = f"regexp_extract({rest}, '^([^?]*)', 1)"
    query = f"nullif(regexp_extract({rest}, '[?](.*)$', 1), '')"
    cpath = (
        f"CASE WHEN {path} = '' OR {path} = '/' THEN '/' "
        f"ELSE coalesce(nullif(regexp_replace({path}, '/+$', ''), ''), '/') END"
    )
    sq = _sorted_query_sql(query, dialect)
    return (
        f"CASE WHEN {scheme} = '' OR {hp} = '' THEN NULL "
        f"ELSE concat({scheme}, '://', {hp_noport}, {cpath}, "
        f"CASE WHEN {query} IS NOT NULL THEN concat('?', {sq}) ELSE '' END) END"
    )


# --- robots.txt evaluation (crawl-politeness gate) -----------------------------

def robots_verdicts(
    urls,
    rules,
    url_col: str = "url",
) -> "DataFrame":
    """Evaluate URLs against robots.txt-style rules with Google
    longest-match semantics: among all rules of the URL's host whose path
    prefix matches the URL path, the LONGEST prefix wins; on equal length
    disallow beats allow; no matching rule (or no rules for the host)
    means allowed. The crawl-politeness gate that runs before fetch
    scheduling.

    ``rules`` holds (host, rule_type 'allow'|'disallow', path_prefix).
    Returns (url, verdict, matched_rule) with matched_rule NULL for the
    default-allow case.

    Scale shape (10^12 URLs × per-host rule sets): ONE host equi-join —
    rule sets are per-host small (robots.txt is capped at 500 KB in
    practice) so fan-out is bounded; the winner is a per-URL max_by-style
    aggregate (combinable), not a window sort. Prefix match and the
    (length, type, text) winner key are pure JVM string ops.

    Engine-determinism: the winner is selected by an exact lexicographic
    key — (prefix length, rule_type, path_prefix) via min() on a
    composed sortable string — so ties break identically in any engine
    or partitioning."""
    import pyspark.sql.functions as F

    h = urls.select(
        F.col(url_col).alias("url"),
        F.expr(host_sql(url_col)).alias("_host"),
        F.expr(path_of_sql(url_col)).alias("_path"),
    )
    r = rules.select(
        F.col("host").alias("_host"),
        F.col("rule_type").alias("_rt"),
        F.col("path_prefix").alias("_rp"),
    )
    m = h.join(r, "_host").where(
        F.expr("substr(_path, 1, length(_rp))") == F.col("_rp")
    )
    # sortable winner key: longer prefix first, then disallow before allow,
    # then prefix text — encoded so min() picks the winner in one agg
    key = (
        "concat(lpad(cast(999 - length(_rp) as string), 3, '0'), "
        "CASE WHEN _rt = 'disallow' THEN '0' ELSE '1' END, _rp)"
    )
    agg = (
        m.groupBy("url")
        .agg(
            F.min(F.expr(f"struct({key} as k, _rt as rt, _rp as rp)")).alias("_w")
        )
    )
    return (
        h.select("url")
        .distinct()
        .join(agg, "url", "left")
        .select(
            "url",
            F.coalesce(F.col("_w.rt"), F.lit("allow")).alias("verdict"),
            F.col("_w.rp").alias("matched_rule"),
        )
    )


def path_of_sql(url: str) -> str:
    """URL path ('' when absent) — the pre-query, pre-fragment path
    component of an absolute URL."""
    rest = f"regexp_extract({url}, '{_REST_RE}', 1)"
    return f"regexp_extract({rest}, '^([^?#]*)', 1)"


# --- host concentration diagnostics (corpus health report) ---------------------

def host_concentration(
    counts,
    key_col: str = "host",
    count_col: str = "n_docs",
):
    """Corpus concentration diagnostics over per-host document counts —
    the dataset-report statistics (RefinedWeb/Dolma-style corpus health):
    Gini coefficient (rank formula), Herfindahl-Hirschman index Σ share²,
    and Shannon entropy, each derived from exact bigint aggregates.

    Scale shape: input is the HOST table (one row per host — already
    aggregated from the corpus), so the rank window is one bounded sort
    shuffle; everything else is one combinable aggregate. Entropy terms
    quantize to e4 BEFORE the sum (order-free bigint), the unigram-LM
    lesson.

    Returns ONE row (n_hosts, n_total, gini_e6, hhi_e6, entropy_e4)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from gaia_spark.functions import portable as P

    x = counts.select(
        F.col(key_col).alias("_h"), F.col(count_col).cast("long").alias("_x")
    ).where(F.col("_x") > 0)
    w = Window.orderBy(F.col("_x").asc(), F.col("_h").asc())
    ranked = x.withColumn("_i", F.row_number().over(w).cast("long"))
    ent_term = P.floor_scaled_sql(
        "cast(_x as double) * ln(cast(_x as double))", 4
    )
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.sum("_x").cast("long").alias("n_total"),
        F.sum(F.col("_i") * F.col("_x")).cast("long").alias("_six"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.expr(ent_term)).cast("long").alias("_sent"),
    )
    gini = P.bigint_div(
        "(2 * _six - (n_hosts + 1) * n_total) * 1000000",
        "n_hosts * n_total",
        P.SPARK,
    )
    hhi = P.bigint_div("_sxx * 1000000", "n_total * n_total", P.SPARK)
    ent = (
        "ln(cast(n_total as double)) - cast(_sent as double)"
        " / (cast(10000 as double) * cast(n_total as double))"
    )
    return agg.select(
        "n_hosts",
        "n_total",
        F.expr(f"CASE WHEN n_total > 0 THEN {gini} ELSE NULL END").alias("gini_e6"),
        F.expr(f"CASE WHEN n_total > 0 THEN {hhi} ELSE NULL END").alias("hhi_e6"),
        F.expr(
            f"CASE WHEN n_total > 0 THEN {P.floor_scaled_sql(ent, 4)} "
            "ELSE NULL END"
        ).alias("entropy_e4"),
    )


# --- registered-domain (eTLD+1) extraction -------------------------------------

def registered_domain(
    hosts,
    suffixes,
    host_col: str = "host",
):
    """Registered-domain (eTLD+1) extraction against a public-suffix rule
    table — the grouping key for domain-level dedup, quotas, and
    concentration stats (host-level grouping over-splits: www./m./cdn.
    subdomains are one publisher). Longest matching public suffix wins
    ('co.uk' beats 'uk'); the eTLD+1 is the suffix one label longer than
    the winner; hosts that EQUAL a public suffix or match none yield NULL
    (unregistrable).

    Scale shape: the :func:`host_suffixes_sql` trick — each host explodes
    to its ≤ ~6 dot-suffixes in-plan, ONE broadcast equi-join against the
    (small, public) suffix table, one combinable max(struct) picks the
    longest match, and the eTLD+1 is recovered from the SAME suffix array
    by label count (pure JVM, no second pass over the corpus).

    ``suffixes`` holds one column ``suffix``. Returns (host, public_suffix,
    etld1)."""
    import pyspark.sql.functions as F

    h = hosts.select(F.col(host_col).alias("host")).distinct()
    sfx = h.select(
        "host",
        F.posexplode(F.expr(host_suffixes_sql("host", SPARK))).alias("_i", "_sfx"),
    )
    s = suffixes.select(F.col("suffix").alias("_sfx"))
    # _i = index of the suffix in the per-host array (0 = whole host);
    # larger label count == smaller _i, so the longest match is min(_i)
    hits = (
        sfx.join(F.broadcast(s), "_sfx")
        .groupBy("host")
        .agg(F.min(F.expr("struct(_i as i, _sfx as sfx)")).alias("_w"))
    )
    parts = "split(host, '[.]')"
    etld1 = (
        f"CASE WHEN _w.i >= 1 THEN "
        f"array_join(slice({parts}, _w.i, size({parts}) - _w.i + 1), '.') "
        "ELSE NULL END"
    )
    return h.join(hits, "host", "left").select(
        "host",
        F.col("_w.sfx").alias("public_suffix"),
        F.expr(etld1).alias("etld1"),
    )


def url_template_sql(url: str, dialect: str) -> str:
    """URL path template: every maximal digit run in the path collapses to
    '{n}' — the crawl-side URL pattern-mining normalization (product pages
    /p/12345 and /p/99 share one template). Query/fragment are excluded
    (path component only); '' path → '/'."""
    path = f"CASE WHEN {path_of_sql(url)} = '' THEN '/' ELSE {path_of_sql(url)} END"
    return _re_replace_all(f"({path})", "[0-9]+", "{n}", dialect)


# --- link-graph builders (shared across query tranches; living here avoids
# tranche-to-tranche imports, which recurse through gaia_spark.queries and
# hit the circular-import trap) ------------------------------------------------


def link_edges_oracle_ctes() -> str:
    """Shared oracle CTE chain: rebuild linked html, extract hrefs, derive
    (src_host, dst_host) — the whole crawl-frontier pipeline in SQL."""
    html = linked_html_sql("text", "doc_id")
    links = extract_links_sql("html")
    dst = host_sql("link")
    return f"""
    h AS (SELECT doc_id, {html} AS html FROM documents),
    l AS (SELECT doc_id, unnest({links}) AS link FROM h),
    e AS (SELECT 'h' || cast(doc_id % 97 as string) || '.example.com' AS src_host,
                 {dst} AS dst_host
          FROM l)"""


def link_host_edges(docs):
    """(src_host, dst_host) edge list from a documents DataFrame — the
    Spark twin of :func:`link_edges_oracle_ctes`."""
    import pyspark.sql.functions as F

    h = docs.select(
        "doc_id", F.expr(linked_html_sql("text", "doc_id")).alias("html")
    )
    return h.select(
        F.expr("'h' || cast(doc_id % 97 as string) || '.example.com'").alias(
            "src_host"
        ),
        F.explode(F.expr(extract_links_sql("html"))).alias("link"),
    ).select("src_host", F.expr(host_sql("link")).alias("dst_host"))
