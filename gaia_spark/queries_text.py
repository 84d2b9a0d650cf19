"""Registry tranche 2: text analysis, deduplication, similarity search —
the training-data-pipeline operator families, each oracle-checked on the
driver's documents/embeddings tables."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gaia_spark.functions import portable as P
from gaia_spark.functions import text as T
from gaia_spark.functions import web as W
from gaia_spark.operators.simsearch import lsh_bucket_sql
from gaia_spark.queries import load, register
from gaia_spark.session import local_df

DUCK_WORDS = P.split_ws("text", P.DUCK)
SPARK_WORDS = P.split_ws("text", P.SPARK)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@register(
    "q_token_stats",
    f"""
    SELECT doc_id,
           {T.token_count_sql('text', P.DUCK)} AS n_tokens,
           length(text) AS n_chars_obs,
           strlen(text) AS n_bytes,
           CASE WHEN length(text) = strlen(text) THEN 1 ELSE 0 END AS is_ascii
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(T.token_count_sql("text", P.SPARK)).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.when(F.length("text") == F.octet_length("text"), 1).otherwise(0).cast("int").alias("is_ascii"),
    )


@register(
    "q_text_quality",
    f"""
    SELECT doc_id,
           {P.floor_scaled_sql(T.quality_score_sql('text', P.DUCK), 2)} AS quality_e2,
           cast({T.stopword_count_sql('text')} as bigint) AS n_stopwords
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(P.floor_scaled_sql(T.quality_score_sql("text", P.SPARK), 2)).alias("quality_e2"),
        F.expr(T.stopword_count_sql("text")).cast("long").alias("n_stopwords"),
    )


@register(
    "q_lang_id",
    f"""
    SELECT doc_id, lang, {T.lang_id_sql('text')} AS pred_lang
    FROM documents
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", F.expr(T.lang_id_sql("text")).alias("pred_lang"))


@register(
    "q_fingerprint",
    f"""
    SELECT doc_id, {T.char_ngram_fingerprint_sql('text', P.DUCK)} AS fp60
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.expr(T.char_ngram_fingerprint_sql("text", P.SPARK)).alias("fp60")
    )


@register(
    "q_repetition",
    f"""
    WITH w AS (SELECT doc_id, unnest({DUCK_WORDS}) AS w FROM documents),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
    ws AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct_words,
                  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
           FROM wc GROUP BY 1),
    g AS (SELECT doc_id, unnest({T.shingles_sql('text', P.DUCK, 2)}) AS g FROM documents),
    gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
    gs AS (SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS nb FROM gc GROUP BY 1)
    SELECT ws.doc_id,
           cast(n_words as bigint) AS n_words,
           cast(n_distinct_words as bigint) AS n_distinct_words,
           {P.floor_scaled_sql('cast(dup as double) / cast(n_words as double)', 4)} AS dup_word_frac_e4,
           cast(top_bigram_n as bigint) AS top_bigram_n,
           {P.floor_scaled_sql('cast(top_bigram_n as double) / cast(nb as double)', 4)} AS top_bigram_frac_e4
    FROM ws JOIN gs USING (doc_id)
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-word-occurrence
    fraction, top-bigram share) — the boilerplate/spam filters of a
    training-data pipeline, as two explode→double-agg chains with
    map-side combine; every float leaves as fixed-point e4."""
    return T.repetition_stats(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@register(
    "q_dedup_exact",
    """
    SELECT md5(text) AS text_hash, count(*) AS n_docs,
           cast(min(doc_id) as bigint) AS keeper
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaia_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(load(spark, sf_dir, "documents"))


def _duck_minhash_ctes(n_hashes: int = 8, band_size: int = 2) -> str:
    from gaia_spark.operators.dedup import minhash_oracle_ctes

    return minhash_oracle_ctes(n_hashes, band_size)


@register(
    "q_minhash_pairs",
    f"""
    WITH {_duck_minhash_ctes()}
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
    FROM bands a JOIN bands b USING (band)
    WHERE a.doc_id < b.doc_id
    """,
)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaia_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def _duck_simhash_ctes() -> str:
    """Shared DuckDB CTE chain ending in sig(doc_id, simhash) — the exact
    16-bit SimHash replayed in SQL (mirrors dedup.simhash op order)."""
    return f"""
    w AS (SELECT doc_id, unnest({DUCK_WORDS}) AS w FROM documents),
    h AS (SELECT doc_id, {P.md5_int60('w', P.DUCK)} AS h FROM w),
    v AS (SELECT doc_id,
          {', '.join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(16))}
          FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id,
            cast({' + '.join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))} as bigint) AS simhash
            FROM v)
    """


@register(
    "q_simhash",
    f"""
    WITH {_duck_simhash_ctes()}
    SELECT doc_id, simhash FROM sig
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaia_spark.operators.dedup import simhash

    return simhash(load(spark, sf_dir, "documents"), bits=16)


# simhash_near_pairs defaults: 16 bits, 4 bands of 4 bits, hamming <= 3
_SH_BANDS = ", ".join(
    f"concat('{b}', '_', cast(({P.idiv_sql('simhash', 1 << (b * 4))}) % 16 as varchar))"
    for b in range(4)
)

@register(
    "q_simhash_pairs",
    f"""
    WITH {_duck_simhash_ctes()},
    bk AS (SELECT doc_id, simhash, unnest([{_SH_BANDS}]) AS band FROM sig),
    cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                    a.simhash AS sig_a, b.simhash AS sig_b
             FROM bk a JOIN bk b USING (band) WHERE a.doc_id < b.doc_id)
    SELECT a, b,
           cast(bit_count((sig_a | sig_b) - (sig_a & sig_b)) as int) AS hamming
    FROM cand
    WHERE bit_count((sig_a | sig_b) - (sig_a & sig_b)) <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — banded Hamming join, pigeonhole-exact
    (max_hamming < bands ⇒ no candidate is ever missed)."""
    from gaia_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(load(spark, sf_dir, "documents"))


@register(
    "q_jaccard_pairs",
    f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
    w AS (SELECT DISTINCT doc_id, unnest({DUCK_WORDS}) AS w FROM docs),
    sz AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common
              FROM w a JOIN w b USING (w) WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT a, b,
           {P.floor_scaled_sql('n_common / cast(sa.sz + sb.sz - n_common as double)', 4)} AS jaccard_e4
    FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
    WHERE {P.floor_scaled_sql('n_common / cast(sa.sz + sb.sz - n_common as double)', 4)} >= 3000
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaia_spark.operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    return ngram_jaccard_pairs(d, threshold=0.3)


def _verified_pairs_ctes() -> str:
    """CTE chain ending in vp(a, b, jaccard_e4): the MinHash-LSH candidate
    pairs verified by exact Jaccard >= 0.2 — shared by q_lsh_verified_dups
    and the dup-cluster / canonical-selection oracles."""
    jac = P.floor_scaled_sql("n_common / cast(sa.sz + sb.sz - n_common as double)", 4)
    return f"""{_duck_minhash_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
             FROM bands a JOIN bands b USING (band) WHERE a.doc_id < b.doc_id),
    w AS (SELECT DISTINCT doc_id, unnest({DUCK_WORDS}) AS w FROM documents),
    sz AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
    inter AS (SELECT wa.doc_id AS a, wb.doc_id AS b, count(*) AS n_common
              FROM w wa JOIN w wb USING (w)
              JOIN cand ON cand.a = wa.doc_id AND cand.b = wb.doc_id
              GROUP BY 1, 2),
    vp AS (SELECT a, b, {jac} AS jaccard_e4
           FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
           WHERE {jac} >= 2000)"""


@register(
    "q_lsh_verified_dups",
    "WITH " + _verified_pairs_ctes() + " SELECT a, b, jaccard_e4 FROM vp",
)
def q_lsh_verified_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE scalable near-dup pipeline, end-to-end: MinHash-LSH candidate
    pairs → exact Jaccard verification restricted to those candidates
    (``scope=``). The all-pairs variant (q_jaccard_pairs) stays as the
    small-scale witness; this chain is the 100-TB path."""
    from gaia_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(d)
    return ngram_jaccard_pairs(d, threshold=0.2, scope=cand)


def _embed_near_dup_oracle(threshold: float, n_planes: int) -> str:
    dot = (
        "list_sum(list_transform(range(1, 65), "
        "i -> cast(pa.embedding[i] as double) * cast(pb.embedding[i] as double)))"
    )
    na = (
        "list_sum(list_transform(range(1, 65), "
        "i -> cast(pa.embedding[i] as double) * cast(pa.embedding[i] as double)))"
    )
    nb = (
        "list_sum(list_transform(range(1, 65), "
        "i -> cast(pb.embedding[i] as double) * cast(pb.embedding[i] as double)))"
    )
    cos = f"({dot} / sqrt({na}) / sqrt({nb}))"
    return f"""
    WITH bk AS (SELECT vec_id, embedding,
                {lsh_bucket_sql('embedding', n_planes, 64, P.DUCK)} AS bucket
                FROM embeddings)
    SELECT pa.vec_id AS a, pb.vec_id AS b,
           {P.floor_scaled_sql(cos, 6)} AS cos_e6
    FROM bk pa JOIN bk pb USING (bucket)
    WHERE pa.vec_id < pb.vec_id AND {cos} >= {threshold}
    """


@register("q_embed_near_dup", _embed_near_dup_oracle(0.25, 4))
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs through the SCALE path (LSH-bucketed
    self-join + exact cosine filter) — the md5-derived planes make the
    bucketing itself cross-engine deterministic, so the approximate
    candidate generation is hash-checked end-to-end, not just the refine."""
    from gaia_spark.operators.simsearch import cosine_near_dup_pairs

    emb = load(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.25, n_planes=4)


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_DUCK_DOT = (
    "list_sum(list_transform(range(1, 65), "
    "i -> cast(e.embedding[i] as double) * cast(q.qe[i] as double)))"
)
_DUCK_NA = (
    "list_sum(list_transform(range(1, 65), "
    "i -> cast(e.embedding[i] as double) * cast(e.embedding[i] as double)))"
)
_DUCK_NB = (
    "list_sum(list_transform(range(1, 65), "
    "i -> cast(q.qe[i] as double) * cast(q.qe[i] as double)))"
)


@register(
    "q_embed_knn",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.qid AS query_id, e.vec_id,
             {_DUCK_DOT} / sqrt({_DUCK_NA}) / sqrt({_DUCK_NB}) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.qid),
    r AS (SELECT query_id, vec_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
    SELECT query_id, vec_id, cast(rank as int) AS rank,
           {P.floor_scaled_sql('cos', 6)} AS cos_e6
    FROM r WHERE rank <= 3
    """,
)
def q_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaia_spark.operators.simsearch import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=3)


@register(
    "q_embed_lsh_buckets",
    f"""
    SELECT {lsh_bucket_sql('embedding', 6, 64, P.DUCK)} AS bucket,
           count(*) AS n_vecs, cast(min(vec_id) as bigint) AS min_vec
    FROM embeddings GROUP BY 1
    """,
)
def q_embed_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaia_spark.operators.simsearch import lsh_buckets

    emb = load(spark, sf_dir, "embeddings")
    return lsh_buckets(emb, n_planes=6).groupBy("bucket").agg(
        F.count("*").alias("n_vecs"), F.min("vec_id").cast("long").alias("min_vec")
    )


@register(
    "q_dedup_clusters",
    "WITH RECURSIVE " + _verified_pairs_ctes() + """,
    e AS (SELECT a, b FROM vp UNION ALL SELECT b AS a, a AS b FROM vp),
    nds AS (SELECT DISTINCT a AS id FROM e),
    reach(s, t) AS (
      SELECT id, id FROM nds
      UNION
      SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a
    )
    SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-pair CONNECTED COMPONENTS (near-dup is not transitive — pairs
    (a,b),(b,c) must collapse into one cluster before canonical
    selection): pointer-doubling min-label propagation over the verified
    LSH pair graph; oracle = recursive reachability closure + min."""
    from gaia_spark.operators.dedup import dup_clusters, minhash_lsh_pairs, ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.2, scope=minhash_lsh_pairs(d))
    return dup_clusters(pairs)


@register(
    "q_dedup_canonical",
    "WITH RECURSIVE " + _verified_pairs_ctes() + """,
    e AS (SELECT a, b FROM vp UNION ALL SELECT b AS a, a AS b FROM vp),
    nds AS (SELECT DISTINCT a AS id FROM e),
    reach(s, t) AS (
      SELECT id, id FROM nds
      UNION
      SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a
    ),
    lab AS (SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s),
    dropd AS (SELECT doc_id FROM lab WHERE doc_id != cluster_id)
    SELECT lang, count(*) AS n_kept, cast(sum(n_chars) as bigint) AS chars_kept
    FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dropd)
    GROUP BY lang
    """,
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: the corpus minus every non-canonical
    dup-cluster member (min doc id survives) — the actual training-corpus
    dedup output, aggregated per lang for the hash check."""
    from gaia_spark.operators.dedup import dedup_keep_canonical, minhash_lsh_pairs, ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.2, scope=minhash_lsh_pairs(d))
    kept = dedup_keep_canonical(d, pairs)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"), F.sum("n_chars").alias("chars_kept")
    )


@register(
    "q_tfidf_top3",
    f"""
    WITH words AS (SELECT doc_id, unnest({DUCK_WORDS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM words) GROUP BY 1),
    n AS (SELECT cast(count(*) as double) AS n FROM documents),
    scored AS (SELECT doc_id, term,
               {P.floor_scaled_sql('tf * (ln(((SELECT n FROM n) + 1) / (df + 1)) + 1)', 4)} AS score_e4
               FROM tf JOIN dfreq USING (term)),
    r AS (SELECT doc_id, term, score_e4,
          row_number() OVER (PARTITION BY doc_id ORDER BY score_e4 DESC, term) AS rank
          FROM scored)
    SELECT doc_id, term, cast(rank as int) AS rank, score_e4
    FROM r WHERE rank <= 3
    """,
)
def q_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting (smoothed idf), top-3 terms per document —
    explode + two combinable aggregations + broadcast N + top-k window;
    the df table is vocabulary-sized, documents are never reshuffled."""
    from gaia_spark.functions.text import tf_idf_top_terms

    return tf_idf_top_terms(load(spark, sf_dir, "documents"), k=3)


@register(
    "q_corpus_clean",
    "WITH RECURSIVE " + _verified_pairs_ctes() + f""",
    e AS (SELECT a, b FROM vp UNION ALL SELECT b AS a, a AS b FROM vp),
    nds AS (SELECT DISTINCT a AS id FROM e),
    reach(s, t) AS (
      SELECT id, id FROM nds
      UNION
      SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a
    ),
    lab AS (SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s),
    dropd AS (SELECT doc_id FROM lab WHERE doc_id != cluster_id)
    SELECT source, count(*) AS n_docs, cast(sum(n_chars) as bigint) AS n_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dropd)
      AND {P.floor_scaled_sql(T.quality_score_sql('text', P.DUCK), 2)} >= 70
      AND cast({T.token_count_sql('text', P.DUCK)} as bigint) >= 10
    GROUP BY source
    """,
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-corpus cleaning pipeline, end to end: near-dup
    removal (MinHash-LSH → exact-Jaccard verify → connected components →
    canonical selection) ∘ quality filter (score ≥ 0.70) ∘ minimum token
    count — per-source surviving doc/char counts. Every stage is an
    operator already hash-checked in isolation; this query checks the
    COMPOSITION the way a real pipeline runs it."""
    from gaia_spark.operators.dedup import (
        dedup_keep_canonical,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.2, scope=minhash_lsh_pairs(d))
    kept = dedup_keep_canonical(d, pairs)
    clean = kept.where(
        F.expr(P.floor_scaled_sql(T.quality_score_sql("text", P.SPARK), 2)) >= 70
    ).where(F.expr(T.token_count_sql("text", P.SPARK)).cast("long") >= 10)
    return clean.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )


@register(
    "q_chunk_docs",
    f"""
    WITH c AS (SELECT doc_id,
               unnest({T.chunk_texts_sql('text', P.DUCK, 50, 40)}) AS chunk,
               generate_subscripts({T.chunk_texts_sql('text', P.DUCK, 50, 40)}, 1) - 1 AS chunk_id
               FROM documents)
    SELECT doc_id, cast(chunk_id as int) AS chunk_id, chunk,
           cast({T.token_count_sql('chunk', P.DUCK)} as bigint) AS n_tokens
    FROM c
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: overlapping word-window splits (50-token
    chunks, 10-token overlap) — pure JVM split/transform/posexplode; the
    chunk TEXT itself is hash-checked against the DuckDB twin."""
    from gaia_spark.functions.text import chunk_documents

    d = load(spark, sf_dir, "documents")
    out = chunk_documents(d, max_tokens=50, overlap=10)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "chunk",
        F.expr(T.token_count_sql("chunk", P.SPARK)).cast("long").alias("n_tokens"),
    )


def _url_oracle() -> str:
    from gaia_spark.functions import web as W
    from gaia_spark.queries import _PAGES_CTE

    return f"""
    WITH {_PAGES_CTE},
    h AS (SELECT {W.host_sql('url')} AS host, {W.tld_sql('url')} AS tld,
                 length(coalesce({W.path_sql('url')}, '')) AS path_len
          FROM pages)
    SELECT host, tld, count(*) AS n_pages,
           cast(sum(path_len) as bigint) AS path_chars
    FROM h GROUP BY host, tld
    """


@register("q_url_stats", _url_oracle())
def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + host-level rollup (per-host dedup scope / crawl
    politeness key): host/tld/path extracted by ONE regex evaluated
    verbatim in both engines, aggregated per host."""
    from gaia_spark.functions import web as W
    from gaia_spark.queries import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    h = pages.select(
        F.expr(W.host_sql("url")).alias("host"),
        F.expr(W.tld_sql("url")).alias("tld"),
        F.length(F.coalesce(F.expr(W.path_sql("url")), F.lit(""))).alias("path_len"),
    )
    return h.groupBy("host", "tld").agg(
        F.count("*").alias("n_pages"),
        F.sum("path_len").cast("long").alias("path_chars"),
    )

# deterministic stratified data-mix sample (operators/sampling.py)
from gaia_spark.operators.sampling import _uniform_sql, rate_case_sql

_MIX_RATES = {"en": 0.25, "de": 0.75, "fr": 1.0, "zh": 0.5}  # es -> default 0.0
_MIX_CASE = rate_case_sql(_MIX_RATES, "lang", 0.0)


@register(
    "q_sample_mix",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_uniform_sql('doc_id', 's0', P.DUCK)} < {_MIX_CASE}
    """,
)
def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified data-mix sample — the driver hash-checks the
    SAMPLED ROWS themselves, proving the selection is engine-independent."""
    from gaia_spark.operators.sampling import stratified_sample

    d = load(spark, sf_dir, "documents")
    return stratified_sample(d, _MIX_RATES).select("doc_id", "lang", "source")


# --- PII scrub (redaction pass over the corpus) ------------------------------

def _pii_aug_sql() -> str:
    """Deterministic PII spans appended to the (PII-free) synthetic corpus —
    the same portable string builds the input in both engines, so the scrub
    regexes chew on identical bytes."""
    return (
        "(text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || cast(doc_id as string)"
        " || '@mail' || cast(doc_id % 7 as string) || '.example.org' ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN ' tel 555-'"
        " || lpad(cast(doc_id % 1000 as string), 3, '0') || '-'"
        " || lpad(cast(doc_id % 10000 as string), 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' ip 10.' || cast(doc_id % 256 as string)"
        " || '.0.' || cast(doc_id % 100 as string) ELSE '' END)"
    )


def _pii_oracle() -> str:
    aug = _pii_aug_sql()
    return f"""
    WITH a AS (SELECT doc_id, {aug} AS t FROM documents)
    SELECT doc_id,
           {T.pii_scrub_sql('t', P.DUCK)} AS scrubbed,
           cast({T.pattern_count_sql('t', T.EMAIL_RE, P.DUCK)} as bigint) AS n_emails,
           cast({T.pattern_count_sql('t', T.PHONE_RE, P.DUCK)} as bigint) AS n_phones
    FROM a
    """


@register("q_pii_scrub", _pii_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (training-data scrub): email -> phone -> IPv4
    regexp_replace chain, all JVM-side, char-class-only patterns shared
    verbatim with the oracle. The full scrubbed TEXT is value-hashed, so
    match-boundary behavior is checked byte-for-byte on every row."""
    d = load(spark, sf_dir, "documents").withColumn("t", F.expr(_pii_aug_sql()))
    return d.select(
        "doc_id",
        F.expr(T.pii_scrub_sql("t", P.SPARK)).alias("scrubbed"),
        F.expr(T.pattern_count_sql("t", T.EMAIL_RE, P.SPARK)).cast("long").alias("n_emails"),
        F.expr(T.pattern_count_sql("t", T.PHONE_RE, P.SPARK)).cast("long").alias("n_phones"),
    )


# Crawl-frontier URL fixture for edit-distance dedup: the pages table has
# one url per host at small SF, so pairs are built from a denser layer —
# 25 hosts plus deterministic trailing-slash variants, the same portable
# expressions on both sides.
_FRONTIER_URL = (
    "concat('https://s', cast(doc_id % 25 as string), '.example/p', "
    "cast(doc_id as string))"
)
_FRONTIER_CTE = (
    f"frontier AS (SELECT {_FRONTIER_URL} AS url FROM documents "
    f"UNION ALL SELECT {_FRONTIER_URL} || '/' AS url FROM documents "
    "WHERE doc_id % 4 = 0)"
)


def _url_edit_oracle() -> str:
    from gaia_spark.functions import web as W

    return f"""
    WITH {_FRONTIER_CTE},
    u AS (SELECT DISTINCT url, {W.host_sql('url')} AS host FROM frontier
          WHERE {W.host_sql('url')} IS NOT NULL)
    SELECT a.url AS url_a, b.url AS url_b,
           cast(levenshtein(a.url, b.url) as int) AS dist
    FROM u a JOIN u b ON a.host = b.host AND a.url < b.url
    WHERE levenshtein(a.url, b.url) <= 2
    """


@register("q_url_edit_pairs", _url_edit_oracle())
def q_url_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-variant near-dup pairs: host-bucketed self-join + Levenshtein
    (threshold form early-exits the DP in Spark; the oracle replays the
    plain builtin) - the crawl-frontier dedup pass. Catches both the
    trailing-slash variants and close pagination ids."""
    from gaia_spark.operators.dedup import url_edit_pairs

    d = load(spark, sf_dir, "documents")
    frontier = d.select(F.expr(_FRONTIER_URL).alias("url")).unionAll(
        d.where("doc_id % 4 = 0").select(F.expr(_FRONTIER_URL + " || '/'").alias("url"))
    )
    return url_edit_pairs(frontier, max_dist=2)


# --- sequence packing (distributed prefix sum) -------------------------------

def _pack_oracle() -> str:
    n_tok = T.token_count_sql("text", P.DUCK)
    return f"""
    WITH d AS (SELECT doc_id, source, cast({n_tok} as bigint) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
          cast(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint)
               AS tok_start
          FROM d)
    SELECT doc_id, source, n_tokens, tok_start,
           {P.idiv_sql('tok_start', 512)} AS bin_first,
           {P.idiv_sql('tok_start + n_tokens - 1', 512)} AS bin_last
    FROM c
    """


@register("q_pack_spans", _pack_oracle())
def q_pack_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence-packing manifest (concat-then-chunk, 512-token context):
    per-source documents in doc_id order -> global token offset -> spanned
    context windows. Spark runs the TWO-PHASE distributed prefix sum
    (bucketed scan: per-bucket totals + broadcast offsets + bucket-local
    windows - no single-task global window); the oracle replays a plain
    window cumsum. bucket_size=1000 forces the multi-bucket path even at
    small SF."""
    from gaia_spark.operators.prefix import pack_token_spans

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(T.token_count_sql("text", P.SPARK)).cast("long").alias("n_tokens"),
    )
    return pack_token_spans(
        d, "n_tokens", context_len=512, part_col="source", bucket_size=1000
    )


_LD_K, _LD_MIN = 3, 5


def _line_dedup_oracle() -> str:
    ch = T.chunk_texts_sql("text", P.DUCK, _LD_K, _LD_K)
    return f"""
    WITH cw AS (SELECT doc_id, {ch} AS chunks FROM documents),
    ch AS (SELECT doc_id, i AS pos, chunks[i + 1] AS seg
           FROM cw, unnest(generate_series(0, len(chunks) - 1)) AS t(i)),
    hot AS (SELECT seg FROM ch GROUP BY seg
            HAVING count(distinct doc_id) >= {_LD_MIN}),
    kept AS (SELECT * FROM ch WHERE seg NOT IN (SELECT seg FROM hot)),
    agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
           cast(coalesce(agg.n_kept, 0) as bigint) AS n_kept
    FROM documents d LEFT JOIN agg USING (doc_id)
    """


@register("q_line_dedup", _line_dedup_oracle())
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (CCNet/RefinedWeb boilerplate removal):
    3-word segments occurring in >= 5 distinct docs stripped from every
    document, order preserved, fully-boilerplate docs kept as empty text.
    The cleaned TEXT itself is hash-checked on all rows."""
    from gaia_spark.operators.dedup import line_dedup

    return line_dedup(load(spark, sf_dir, "documents"), seg_words=_LD_K, min_docs=_LD_MIN)


def _decontaminate_oracle() -> str:
    sh = T.shingles_sql("text", P.DUCK, 3)
    return f"""
    WITH bench AS (SELECT DISTINCT g
                   FROM (SELECT unnest({sh}) AS g FROM documents WHERE doc_id % 97 = 0)),
    train AS (SELECT * FROM documents WHERE doc_id % 97 != 0),
    grams AS (SELECT doc_id, unnest({sh}) AS g FROM train),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
    hits AS (SELECT doc_id, count(*) AS n_hit
             FROM grams JOIN bench USING (g) GROUP BY 1)
    SELECT t.doc_id, cast(t.n_grams as bigint) AS n_grams,
           cast(coalesce(h.n_hit, 0) as bigint) AS n_hit,
           {P.floor_scaled_sql('cast(coalesce(h.n_hit, 0) as double) / cast(t.n_grams as double)', 4)} AS contam_e4
    FROM totals t LEFT JOIN hits h USING (doc_id)
    """


@register("q_decontaminate", _decontaminate_oracle())
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 97th document plays the eval suite;
    each remaining training doc reports the fraction of its 3-gram
    shingles found in the benchmark vocabulary (broadcast bench grams, one
    explode + one broadcast join + combinable aggs)."""
    from gaia_spark.operators.dedup import decontaminate

    d = load(spark, sf_dir, "documents")
    bench = d.where("doc_id % 97 = 0")
    train = d.where("doc_id % 97 != 0")
    return decontaminate(train, bench, k=3)


# --- HTML -> text extraction (Common-Crawl preprocessing) --------------------

def _html_extract_oracle() -> str:
    html = W.rich_html_sql("text", "doc_id")
    ext = W.html_to_text_sql("html", P.DUCK)
    return f"""
    WITH h AS (SELECT doc_id, {html} AS html FROM documents)
    SELECT doc_id, {ext} AS extracted,
           cast(length({ext}) as bigint) AS n_chars
    FROM h
    """


@register("q_html_extract", _html_extract_oracle())
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction, the step every Common-Crawl pipeline runs
    before geoparse/dedup/quality: comments, script/style blocks, tags,
    entities, whitespace — one codegen'd regexp_replace/replace chain, map
    only, zero shuffle, no Python. The page html is rebuilt deterministically
    from documents (rich_html_sql) so BOTH engines extract from identical
    bytes, and the EXTRACTED TEXT is hash-checked on every row; the
    round-trip identity extract(wrap(text)) == expected closed form is
    pytest-pinned in test_html."""
    from gaia_spark.functions import web as WW

    d = load(spark, sf_dir, "documents")
    h = d.select("doc_id", F.expr(WW.rich_html_sql("text", "doc_id")).alias("html"))
    ext = WW.html_to_text_sql("html", P.SPARK)
    return h.select(
        "doc_id",
        F.expr(ext).alias("extracted"),
        F.length(F.expr(ext)).cast("long").alias("n_chars"),
    )


# --- PageRank over the host link graph ---------------------------------------

_PR_DAMP = 0.85
_PR_ITERS = 5
_PR_EDGES_CTE = (
    "hosts AS (SELECT DISTINCT doc_id % 97 AS h FROM documents), "
    "edges AS (SELECT h AS src, (h * 3 + 1) % 97 AS dst FROM hosts WHERE h % 10 != 0 "
    "UNION SELECT h, (h * 5 + 2) % 97 FROM hosts WHERE h % 10 != 0 "
    "UNION SELECT h, (h * 7 + 3) % 97 FROM hosts WHERE h % 10 != 0)"
)


def _pagerank_oracle() -> str:
    from gaia_spark.operators.graph import rank_update_sql

    its = []
    for k in range(1, _PR_ITERS + 1):
        prev = f"it{k - 1}"
        upd = rank_update_sql("coalesce(c._contrib, cast(0 as double))", "dm._dm", "nn.n", _PR_DAMP)
        its.append(
            f"it{k} AS (SELECT b.node, {upd} AS rank "
            f"FROM nodes b CROSS JOIN nn CROSS JOIN "
            f"(SELECT coalesce(sum(r.rank), cast(0 as double)) AS _dm FROM {prev} r "
            f" LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL) dm "
            f"LEFT JOIN (SELECT e.dst, sum(r.rank / deg.out_deg) AS _contrib "
            f"  FROM edges e JOIN {prev} r ON e.src = r.node "
            f"  JOIN deg ON e.src = deg.src GROUP BY e.dst) c ON b.node = c.dst)"
        )
    chain = ", ".join(its)
    return f"""
    WITH {_PR_EDGES_CTE},
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, cast(count(*) as double) AS out_deg FROM edges GROUP BY src),
    nn AS (SELECT cast(count(*) as double) AS n FROM nodes),
    it0 AS (SELECT node, cast(1 as double) / n AS rank FROM nodes CROSS JOIN nn),
    {chain}
    SELECT node, {P.floor_scaled_sql('rank', 12)} AS rank_e12 FROM it{_PR_ITERS}
    """


@register("q_pagerank", _pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 damped power iterations) over a deterministic host link
    graph with deliberate dangling hosts — bit-identical cross-engine
    because ranks re-quantize to e12 between rounds (the oracle chains the
    same five CTE rounds). Each engine round: one join + one combinable
    agg + two broadcast scalars."""
    from gaia_spark.operators.graph import pagerank

    hosts = (
        load(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).alias("h"))
        .distinct()
        .where("h % 10 != 0")
    )
    edges = (
        hosts.select(
            "h",
            F.explode(
                F.expr("array((h * 3 + 1) % 97, (h * 5 + 2) % 97, (h * 7 + 3) % 97)")
            ).alias("dst"),
        )
        .select(F.col("h").alias("src"), "dst")
        .distinct()
    )
    pr = pagerank(edges, damping=_PR_DAMP, iters=_PR_ITERS)
    return pr.select("node", F.expr(P.floor_scaled_sql("rank", 12)).alias("rank_e12"))


# --- link graph: href extraction + host edges + PageRank over them ----------

def _link_edges_ctes() -> str:
    return W.link_edges_oracle_ctes()


def _link_graph_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.link_host_edges(load(spark, sf_dir, "documents"))


@register(
    "q_link_graph",
    f"""
    WITH {_link_edges_ctes()}
    SELECT src_host, dst_host, cast(count(*) as bigint) AS n_links
    FROM e GROUP BY 1, 2
    """,
)
def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl link graph: deterministic linked html rebuilt per doc, hrefs
    extracted with one shared backslash-free regexp_extract_all, targets
    reduced to hosts, edges rolled up — the whole chain is codegen'd JVM
    SQL (explode + one combinable agg, no Python), hash-checked edge by
    edge including the dangling hosts (no anchors) and self links."""
    return (
        _link_graph_spark(spark, sf_dir)
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


def _pagerank_links_oracle() -> str:
    from gaia_spark.operators.graph import rank_update_sql

    its = []
    for k in range(1, _PR_ITERS + 1):
        prev = f"it{k - 1}"
        upd = rank_update_sql(
            "coalesce(c._contrib, cast(0 as double))", "dm._dm", "nn.n", _PR_DAMP
        )
        its.append(
            f"it{k} AS (SELECT b.node, {upd} AS rank "
            f"FROM nodes b CROSS JOIN nn CROSS JOIN "
            f"(SELECT coalesce(sum(r.rank), cast(0 as double)) AS _dm FROM {prev} r "
            f" LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL) dm "
            f"LEFT JOIN (SELECT e.dst, sum(r.rank / deg.out_deg) AS _contrib "
            f"  FROM edges e JOIN {prev} r ON e.src = r.node "
            f"  JOIN deg ON e.src = deg.src GROUP BY e.dst) c ON b.node = c.dst)"
        )
    chain = ", ".join(its)
    return f"""
    WITH {_link_edges_ctes()},
    edges AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM e),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, cast(count(*) as double) AS out_deg FROM edges GROUP BY src),
    nn AS (SELECT cast(count(*) as double) AS n FROM nodes),
    it0 AS (SELECT node, cast(1 as double) / n AS rank FROM nodes CROSS JOIN nn),
    {chain}
    SELECT node, {P.floor_scaled_sql('rank', 12)} AS rank_e12 FROM it{_PR_ITERS}
    """


@register("q_pagerank_links", _pagerank_links_oracle())
def q_pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the EXTRACTED link graph — html → href → host edges →
    5 quantized power-iteration rounds, end to end; dangling hosts come
    from the no-anchor pages, self loops from the self links. Bit-identical
    cross-engine (e12 re-quantization between rounds)."""
    from gaia_spark.operators.graph import pagerank

    edges = _link_graph_spark(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    ).distinct()
    pr = pagerank(edges, damping=_PR_DAMP, iters=_PR_ITERS)
    return pr.select(
        "node", F.expr(P.floor_scaled_sql("rank", 12)).alias("rank_e12")
    )


# --- unigram LM quality score ------------------------------------------------

@register(
    "q_unigram_lm",
    f"""
    WITH toks AS (SELECT doc_id, unnest({P.split_ws('text', P.DUCK)}) AS tok
                  FROM documents),
    t AS (SELECT doc_id, tok FROM toks WHERE tok != ''),
    vocab AS (SELECT tok, cast(count(*) as bigint) AS cnt FROM t GROUP BY tok),
    tot AS (SELECT cast(sum(cnt) as bigint) AS total FROM vocab),
    scored AS (SELECT doc_id,
                 {P.floor_scaled_sql('ln(cast(cnt as double) / cast(total as double))', 4)} AS lp_e4
               FROM t JOIN vocab USING (tok) CROSS JOIN tot)
    SELECT doc_id, cast(count(*) as bigint) AS n_tokens,
           cast(sum(lp_e4) as bigint) AS sum_logp_e4,
           {P.bigint_div('-cast(sum(lp_e4) as bigint)', 'count(*) * 100', P.DUCK)} AS nll_e2
    FROM scored GROUP BY doc_id
    """,
)
def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self unigram LM scoring (the CCNet quality-filter shape):
    vocabulary agg, token-count shuffle join, broadcast total, per-doc
    mean NLL — log-probs quantized e4 before the integer doc sum, mean by
    exact bigint division, hash-checked on every doc."""
    from gaia_spark.functions.text import unigram_logprob

    return unigram_logprob(load(spark, sf_dir, "documents"))


# --- multi-source shortest paths over the host graph -------------------------

_SP_ITERS = 5
_SP_W = "(cast((src * 31 + dst) % 97 + 1 as double) / 10)"


def _sssp_oracle() -> str:
    its = []
    for k in range(1, _SP_ITERS + 1):
        prev = f"d{k - 1}"
        its.append(
            f"d{k} AS (SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM {prev} "
            f"UNION ALL "
            f"SELECT e.dst AS node, d.dist + e.w AS dist "
            f"FROM we e JOIN {prev} d ON e.src = d.node) GROUP BY node)"
        )
    chain = ", ".join(its)
    return f"""
    WITH {_PR_EDGES_CTE},
    we AS (SELECT src, dst, {_SP_W} AS w FROM edges),
    d0 AS (SELECT DISTINCT src AS node, cast(0 as double) AS dist
           FROM edges WHERE src % 20 = 1),
    {chain}
    SELECT node, {P.floor_scaled_sql('dist', 6)} AS dist_e6 FROM d{_SP_ITERS}
    """


@register("q_sssp", _sssp_oracle())
def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest paths (5 Bellman–Ford rounds) over the host
    graph — the (min,+) sibling of PageRank's plan: one join + one
    combinable min per round. min is order-independent and each kept
    distance is the double of ONE relaxation chain, so the truncated
    iteration is bit-identical cross-engine with no quantization trick;
    unreached hosts are absent, not infinite."""
    from gaia_spark.operators.graph import shortest_paths

    hosts = (
        load(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).alias("h"))
        .distinct()
        .where("h % 10 != 0")
    )
    edges = (
        hosts.selectExpr("h AS src", "(h * 3 + 1) % 97 AS dst")
        .unionByName(hosts.selectExpr("h AS src", "(h * 5 + 2) % 97 AS dst"))
        .unionByName(hosts.selectExpr("h AS src", "(h * 7 + 3) % 97 AS dst"))
        .distinct()
        .withColumn("w", F.expr(_SP_W))
    )
    srcs = edges.select("src").where("src % 20 = 1").distinct().withColumnRenamed("src", "node")
    d = shortest_paths(edges, srcs, iters=_SP_ITERS)
    return d.select("node", F.expr(P.floor_scaled_sql("dist", 6)).alias("dist_e6"))


# --- HITS hubs/authorities + co-citation over the extracted link graph -------

_HITS_ITERS = 3


def _hits_oracle() -> str:
    from gaia_spark.operators.graph import quant12_sql

    q = quant12_sql
    parts = []
    for k in range(1, _HITS_ITERS + 1):
        prev = f"hub{k - 1}"
        parts.append(
            f"ar{k} AS (SELECT n.node, {q('coalesce(s._raw, cast(0 as double))')} AS qq "
            f"FROM nodes n LEFT JOIN (SELECT e.dst, sum(h.hub) AS _raw "
            f"  FROM edges e JOIN {prev} h ON e.src = h.node GROUP BY e.dst) s "
            f"ON n.node = s.dst)"
        )
        parts.append(f"am{k} AS (SELECT max(qq) AS m FROM ar{k})")
        parts.append(
            f"auth{k} AS (SELECT node, {q('qq / m')} AS auth FROM ar{k} CROSS JOIN am{k})"
        )
        parts.append(
            f"hr{k} AS (SELECT n.node, {q('coalesce(s._raw, cast(0 as double))')} AS qq "
            f"FROM nodes n LEFT JOIN (SELECT e.src, sum(a.auth) AS _raw "
            f"  FROM edges e JOIN auth{k} a ON e.dst = a.node GROUP BY e.src) s "
            f"ON n.node = s.src)"
        )
        parts.append(f"hm{k} AS (SELECT max(qq) AS m FROM hr{k})")
        parts.append(
            f"hub{k} AS (SELECT node, {q('qq / m')} AS hub FROM hr{k} CROSS JOIN hm{k})"
        )
    chain = ", ".join(parts)
    return f"""
    WITH {_link_edges_ctes()},
    edges AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM e),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    hub0 AS (SELECT node, cast(1 as double) AS hub FROM nodes),
    {chain}
    SELECT h.node, {P.floor_scaled_sql('h.hub', 12)} AS hub_e12,
           {P.floor_scaled_sql('a.auth', 12)} AS auth_e12
    FROM hub{_HITS_ITERS} h JOIN auth{_HITS_ITERS} a ON h.node = a.node
    """


@register("q_hits", _hits_oracle())
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (3 max-normalized rounds) over the
    EXTRACTED host link graph — max normalization keeps the normalizer
    order-independent and e12 re-quantization after every half-round makes
    the whole iteration bit-identical cross-engine (the oracle chains the
    same 6 half-steps)."""
    from gaia_spark.operators.graph import hits

    edges = _link_graph_spark(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    ).distinct()
    out = hits(edges, iters=_HITS_ITERS)
    return out.select(
        "node",
        F.expr(P.floor_scaled_sql("hub", 12)).alias("hub_e12"),
        F.expr(P.floor_scaled_sql("auth", 12)).alias("auth_e12"),
    )


@register(
    "q_cocitation",
    f"""
    WITH {_link_edges_ctes()},
    edges AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM e)
    SELECT x.src AS a, y.src AS b, cast(count(*) as bigint) AS n_common
    FROM edges x JOIN edges y ON x.dst = y.dst AND x.src < y.src
    GROUP BY 1, 2
    """,
)
def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation strength between hosts of the extracted link graph —
    one self equi-join on the target key with the documented hot-target
    guard available; every (a, b, n_common) pair hash-checked."""
    from gaia_spark.operators.graph import cocitation_pairs

    edges = _link_graph_spark(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return cocitation_pairs(edges)


# --- exact duplicated-passage detection --------------------------------------

_DP_PASSAGE = " ".join(f"dup{i}" for i in range(15))


@register(
    "q_dup_passages",
    f"""
    WITH planted AS (
      SELECT doc_id, {P.arr_size(P.split_ws('text', P.DUCK), P.DUCK)} AS nw
      FROM documents WHERE doc_id % 50 = 0)
    SELECT a.doc_id AS a, b.doc_id AS b,
           cast(a.nw + 2 as int) AS start_a, cast(b.nw + 2 as int) AS start_b,
           cast(15 as int) AS run_len, '{_DP_PASSAGE}' AS passage
    FROM planted a JOIN planted b ON a.doc_id < b.doc_id
    """,
)
def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection (substring-level dedup, Lee et
    al. 2022 shape): a 15-word passage is planted at the tail of every
    50th doc behind a doc-unique separator token, so each maximal shared
    run is EXACTLY the passage (no accidental extension) and the
    rare-gram → diagonal-collapse → Arrow-extension pipeline is fully
    hash-checkable: pair, both 1-based offsets, run length, and the
    passage text itself."""
    from gaia_spark.operators.dedup import duplicate_passages

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"CASE WHEN doc_id % 50 = 0 THEN text || ' sep' || cast(doc_id as string)"
            f" || ' {_DP_PASSAGE}' ELSE text END"
        ).alias("text"),
    )
    out = duplicate_passages(d, k=8, min_run=12, max_gram_docs=50)
    # the word-soup corpus contains GENUINE accidental >=12-word shared
    # runs (small vocabulary) — including, at some SFs, between two planted
    # docs themselves (sf0.001: docs 0 and 50 open with the same 22 words),
    # so scoping by doc pair is not enough. The planted passage is built
    # from doc-unique 'dupN' vocabulary that appears nowhere else, so exact
    # passage-text equality selects precisely the closed-form planted runs;
    # the accidental ones are the subject of the brute-force pytest.
    return out.where(F.col("passage") == F.lit(_DP_PASSAGE))


# --- triangle counting on the host link graph --------------------------------

@register(
    "q_triangles",
    f"""
    WITH {_link_edges_ctes()},
    und AS (SELECT DISTINCT least(src_host, dst_host) AS u,
                            greatest(src_host, dst_host) AS v
            FROM e WHERE src_host != dst_host),
    deg AS (SELECT node, cast(count(*) as bigint) AS deg FROM (
              SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
            GROUP BY 1),
    o AS (SELECT CASE WHEN (a.deg, und.u) < (b.deg, und.v) THEN und.u ELSE und.v END AS a,
                 CASE WHEN (a.deg, und.u) < (b.deg, und.v) THEN und.v ELSE und.u END AS b,
                 CASE WHEN (a.deg, und.u) < (b.deg, und.v) THEN b.deg ELSE a.deg END AS db
          FROM und JOIN deg a ON und.u = a.node JOIN deg b ON und.v = b.node),
    w AS (SELECT o1.a, o1.b AS w1, o2.b AS w2
          FROM o o1 JOIN o o2 ON o1.a = o2.a
          WHERE (o1.db, o1.b) < (o2.db, o2.b)),
    t AS (SELECT w.a, w.w1, w.w2 FROM w JOIN o ON o.a = w.w1 AND o.b = w.w2)
    SELECT node, cast(count(*) as bigint) AS n_tri FROM (
      SELECT a AS node FROM t UNION ALL SELECT w1 FROM t UNION ALL SELECT w2 FROM t)
    GROUP BY 1
    """,
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle counts on the EXTRACTED link graph via
    degree-ordered orientation (each triangle counted at its unique
    two-out-edge node) — pure integer output, the oracle replays the same
    orientation and wedge-close joins."""
    from gaia_spark.operators.graph import triangle_count

    edges = _link_graph_spark(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return triangle_count(edges)


# --- distributed BPE merge training -------------------------------------------

_BPE_ROUNDS = 4


def _bpe_oracle(n: int = _BPE_ROUNDS) -> str:
    """Chain n BPE rounds in DuckDB: pair counts (overlapping, standard),
    argmax by (count desc, pa, pb), run-parity non-overlapping merge —
    the window-function derivation of the same semantics the engine
    realizes with posexplode + row_number."""
    parts = [f"""
    w0 AS (SELECT u.w AS w FROM documents, unnest({P.split_ws('text', P.DUCK)}) u(w)),
    v0 AS (SELECT w, cast(count(*) as bigint) AS wc,
                  list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
           FROM w0 WHERE length(w) > 0 GROUP BY w)"""]
    for r in range(1, n + 1):
        pv = f"v{r - 1}"
        parts.append(f"""
    p{r} AS (SELECT v.w, v.wc, u.i - 1 AS pos, v.syms[u.i] AS pa, v.syms[u.i + 1] AS pb
             FROM {pv} v, unnest(range(1, len(v.syms))) u(i)),
    top{r} AS (SELECT pa, pb, cast(sum(wc) as bigint) AS pair_count
               FROM p{r} GROUP BY 1, 2
               ORDER BY pair_count DESC, pa ASC, pb ASC LIMIT 1),
    m{r} AS (SELECT p.w, p.pos,
                    row_number() OVER (PARTITION BY p.w ORDER BY p.pos) AS _rk
             FROM p{r} p JOIN top{r} t USING (pa, pb)),
    k{r} AS (SELECT w, pos FROM (
               SELECT w, pos, row_number() OVER (PARTITION BY w, pos - _rk
                                                 ORDER BY pos) AS _off
               FROM m{r}) WHERE _off % 2 = 1),
    s{r} AS (SELECT v.w, v.wc, u.i - 1 AS pos, v.syms[u.i] AS sym
             FROM {pv} v, unnest(range(1, len(v.syms) + 1)) u(i)),
    sl{r} AS (SELECT w, wc, pos, sym,
                     lead(sym) OVER (PARTITION BY w ORDER BY pos) AS lead_sym
              FROM s{r}),
    v{r} AS (SELECT sl.w, any_value(sl.wc) AS wc,
                    list(CASE WHEN ks.pos IS NOT NULL
                              THEN sl.sym || sl.lead_sym ELSE sl.sym END
                         ORDER BY sl.pos) AS syms
             FROM sl{r} sl
             LEFT JOIN k{r} ks ON sl.w = ks.w AND sl.pos = ks.pos
             LEFT JOIN k{r} kc ON sl.w = kc.w AND sl.pos = kc.pos + 1
             WHERE kc.pos IS NULL GROUP BY sl.w)""")
    union = " UNION ALL ".join(
        f"SELECT cast({r} as int) AS round, pa, pb, pair_count FROM top{r}"
        for r in range(1, n + 1)
    )
    return "WITH " + ",".join(parts) + f" {union}"


@register("q_bpe_merges", _bpe_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training over the documents corpus: the
    learned merge table for 4 rounds — pair selection (count desc,
    lexicographic tie-break) and the run-parity non-overlapping merge are
    both deterministic, so the whole iterative training is hash-exact;
    the oracle chains the same rounds with window functions instead of
    posexplode (two derivations, one vocabulary)."""
    from gaia_spark.operators.dedup import bpe_train

    return bpe_train(load(spark, sf_dir, "documents"), n_merges=_BPE_ROUNDS)


# --- sketches: Count-Min + HyperLogLog ----------------------------------------

def _cms_oracle() -> str:
    from gaia_spark.operators.sketch import CMS_DEPTH, cms_bucket_sql

    bucket = "CASE " + " ".join(
        f"WHEN r.row = {j} THEN {cms_bucket_sql('w0.w', j, P.DUCK)}"
        for j in range(CMS_DEPTH)
    ) + " END"
    qbucket = "CASE " + " ".join(
        f"WHEN r.row = {j} THEN {cms_bucket_sql('qs.q', j, P.DUCK)}"
        for j in range(CMS_DEPTH)
    ) + " END"
    rows = ", ".join(f"({j})" for j in range(CMS_DEPTH))
    return f"""
    WITH w0 AS (SELECT u.w AS w FROM documents,
                unnest({P.split_ws('text', P.DUCK)}) u(w) WHERE length(u.w) > 0),
    r(row) AS (VALUES {rows}),
    sk AS (SELECT r.row, {bucket} AS bucket, cast(count(*) as bigint) AS cnt
           FROM w0 CROSS JOIN r GROUP BY 1, 2),
    qs AS (SELECT DISTINCT w AS q FROM w0 ORDER BY q LIMIT 20),
    qb AS (SELECT qs.q, r.row, {qbucket} AS bucket FROM qs CROSS JOIN r),
    est AS (SELECT q, cast(min(coalesce(sk.cnt, 0)) as bigint) AS cms_est
            FROM qb LEFT JOIN sk USING (row, bucket) GROUP BY 1),
    tr AS (SELECT w AS q, cast(count(*) as bigint) AS true_cnt FROM w0 GROUP BY 1)
    SELECT est.q, tr.true_cnt, est.cms_est FROM est JOIN tr USING (q)
    """


@register("q_cms_words", _cms_oracle())
def q_cms_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over the corpus token stream (4 md5
    hash rows × 256 buckets — a bounded-size mergeable summary), point-
    queried for the 20 lexicographically-first words next to their true
    counts. Deterministic hashing makes even the approximation
    hash-exact cross-engine."""
    from gaia_spark.operators.sketch import cms_estimate, count_min_sketch

    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.expr(SPARK_WORDS)).alias("w"))
        .where(F.length("w") > 0)
    )
    sketch = count_min_sketch(words, "w")
    qs = words.select("w").distinct().orderBy("w").limit(20).withColumnRenamed("w", "q")
    est = cms_estimate(sketch, qs)
    true = words.groupBy(F.col("w").alias("q")).agg(
        F.count("*").cast("long").alias("true_cnt")
    )
    return est.join(true, "q").select("q", "true_cnt", "cms_est")


def _hll_oracle() -> str:
    from gaia_spark.operators.sketch import (
        HLL_ALPHA, HLL_BITS, HLL_M, hll_rho_sql,
    )

    h = P.md5_int60("cast(user_id as varchar)", P.DUCK)
    top = HLL_BITS + 1
    raw = (
        f"cast({HLL_ALPHA!r} as double) * {HLL_M} * {HLL_M} * pow(cast(2 as double), {top})"
        f" / cast(_occ_sum + ({HLL_M} - _used) * {1 << top} as double)"
    )
    est = (
        f"CASE WHEN ({raw}) <= cast({2.5 * HLL_M} as double) AND _used < {HLL_M}"
        f" THEN cast({HLL_M} as double) * ln(cast({HLL_M} as double)"
        f" / cast({HLL_M} - _used as double))"
        f" ELSE ({raw}) END"
    )
    return f"""
    WITH hv AS (SELECT ({h}) % {HLL_M} AS reg,
                       {hll_rho_sql(f'({h}) // {HLL_M}')} AS rho FROM events),
    regs AS (SELECT reg, cast(max(rho) as bigint) AS m_j FROM hv GROUP BY 1),
    agg AS (SELECT cast(count(*) as bigint) AS _used,
                   cast(sum(cast(pow(cast(2 as double), {top} - m_j) as bigint)) as bigint) AS _occ_sum
            FROM regs),
    ex AS (SELECT cast(count(DISTINCT user_id) as bigint) AS exact_n FROM events)
    SELECT _used AS n_registers_used, {P.floor_scaled_sql(est, 2)} AS est_e2, exact_n
    FROM agg, ex
    """


@register("q_hll_users", _hll_oracle())
def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate over the event stream (256
    md5-derived registers; the harmonic sum is an EXACT bigint of
    power-of-two terms, so the 'approximate' estimate is bit-identical
    cross-engine — unlike approx_count_distinct, whose HLL++ no oracle
    can replay), next to the exact count."""
    from gaia_spark.operators.sketch import hll_estimate, hll_registers

    e = load(spark, sf_dir, "events").select(
        F.expr("cast(user_id as string)").alias("uid"), "user_id"
    )
    regs = hll_registers(e, "uid")
    est = hll_estimate(regs)
    exact = e.agg(F.countDistinct("user_id").cast("long").alias("exact_n"))
    return est.crossJoin(exact)


# --- bigram LM holdout scoring ---------------------------------------------------


def _bigram_lm_oracle() -> str:
    from gaia_spark.functions import text as T

    pairs = T.bigram_pairs_sql("text", P.DUCK)
    a = P.split_ws("text", P.DUCK)
    lp = (
        "CASE WHEN _c2 IS NOT NULL THEN ln(cast(_c2 as double) / cast(_c1w1 as double)) "
        "ELSE ln((cast(4 as double) / cast(10 as double)) "
        "* cast(coalesce(_c1w2, 0) + 1 as double) / cast(_N + _V as double)) END"
    )
    return f"""
    WITH trb AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM
                 (SELECT unnest({pairs}) AS b FROM documents
                  WHERE doc_id % 2 = 0 AND len({a}) >= 2)),
    c2 AS (SELECT w1, w2, cast(count(*) as bigint) AS _c2 FROM trb GROUP BY 1, 2),
    c1 AS (SELECT w, cast(count(*) as bigint) AS _c1 FROM
           (SELECT unnest({a}) AS w FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
    scal AS (SELECT cast(sum(_c1) as bigint) AS _N, cast(count(*) as bigint) AS _V FROM c1),
    scb AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM
            (SELECT doc_id, unnest({pairs}) AS b FROM documents
             WHERE doc_id % 2 = 1 AND len({a}) >= 2)),
    j AS (SELECT s.doc_id, {P.floor_scaled_sql(lp, 4)} AS _lp_e4
          FROM scb s LEFT JOIN c2 USING (w1, w2)
          LEFT JOIN (SELECT w AS w1, _c1 AS _c1w1 FROM c1) USING (w1)
          LEFT JOIN (SELECT w AS w2, _c1 AS _c1w2 FROM c1) USING (w2)
          CROSS JOIN scal),
    agg AS (SELECT doc_id, cast(count(*) as bigint) AS n_big,
                   cast(sum(_lp_e4) as bigint) AS sum_lp_e4
            FROM j GROUP BY 1)
    SELECT doc_id, n_big, sum_lp_e4,
           cast({P.bigint_div('(0 - sum_lp_e4)', 'n_big', P.DUCK)} as bigint) AS nll_e4
    FROM agg
    """


@register("q_bigram_lm", _bigram_lm_oracle())
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Stupid-Backoff LM scoring, CCNet-style shard split: train
    counts on the even-doc_id half, score every odd-doc_id document's
    transitions (seen: ln(C2/C1); unseen: smoothed unigram backoff).
    Per-transition log-probs e4-quantized before the exact doc sum."""
    from gaia_spark.functions.text import bigram_logprob

    docs = load(spark, sf_dir, "documents")
    return bigram_logprob(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    )


# --- DSIR importance weights ------------------------------------------------------


def _dsir_oracle(n_buckets: int = 1024) -> str:
    from gaia_spark.functions import text as T

    grams = T.shingles_sql("text", P.DUCK, 2)
    b = f"({P.md5_int60('g', P.DUCK)} % {n_buckets})"
    lr = (
        f"ln(cast(coalesce(_ct, 0) + 1 as double) * cast(_np + {n_buckets} as double) "
        f"/ (cast(coalesce(_cp, 0) + 1 as double) * cast(_nt + {n_buckets} as double)))"
    )
    return f"""
    WITH tg AS (SELECT {b} AS _b FROM
                (SELECT unnest({grams}) AS g FROM documents WHERE lang = 'en')),
    pg AS (SELECT doc_id, {b} AS _b FROM
           (SELECT doc_id, unnest({grams}) AS g FROM documents)),
    ct AS (SELECT _b, cast(count(*) as bigint) AS _ct FROM tg GROUP BY 1),
    cp AS (SELECT _b, cast(count(*) as bigint) AS _cp FROM pg GROUP BY 1),
    nt AS (SELECT cast(sum(_ct) as bigint) AS _nt FROM ct),
    np AS (SELECT cast(sum(_cp) as bigint) AS _np FROM cp),
    j AS (SELECT doc_id, {P.floor_scaled_sql(lr, 4)} AS _lr_e4
          FROM pg LEFT JOIN ct USING (_b) LEFT JOIN cp USING (_b)
          CROSS JOIN nt CROSS JOIN np)
    SELECT doc_id, cast(count(*) as bigint) AS n_grams,
           cast(sum(_lr_e4) as bigint) AS sum_lr_e4
    FROM j GROUP BY 1
    """


@register("q_dsir_weights", _dsir_oracle())
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: every document scored by the hashed-bigram
    log-ratio of the English-target feature LM vs the whole-pool feature
    LM (add-1 smoothing over 1024 md5 buckets, e4 quantization before the
    exact doc sum). The two count tables are constant-size broadcasts."""
    from gaia_spark.operators.sampling import dsir_logratio

    docs = load(spark, sf_dir, "documents")
    return dsir_logratio(docs.where("lang = 'en'"), docs)


# --- BM25 ranked retrieval ----------------------------------------------------

_BM25_TERMS = ("merge", "query", "spark", "window")


def _bm25_oracle() -> str:
    tlist = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tc = T.token_count_sql("text", P.DUCK)
    return f"""
    WITH dl AS (SELECT doc_id, cast({tc} as bigint) AS _dl FROM documents),
    toks AS (SELECT doc_id, unnest({DUCK_WORDS}) AS _tok FROM documents),
    tf AS (SELECT doc_id, _tok, cast(count(*) as bigint) AS _tf
           FROM toks WHERE _tok IN ({tlist}) GROUP BY 1, 2),
    dfq AS (SELECT _tok, cast(count(*) as bigint) AS _df FROM tf GROUP BY 1),
    scal AS (SELECT cast(count(*) as bigint) AS _N,
                    cast(sum({tc}) as bigint) AS _TL FROM documents),
    j AS (SELECT doc_id, {P.floor_scaled_sql(T.BM25_TERM_SCORE, 4)} AS _s_e4
          FROM tf JOIN dfq USING (_tok) JOIN dl USING (doc_id)
          CROSS JOIN scal)
    SELECT doc_id, cast(count(*) as bigint) AS n_q_terms,
           cast(sum(_s_e4) as bigint) AS score_e4
    FROM j GROUP BY 1
    """


@register("q_bm25", _bm25_oracle())
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Okapi) retrieval scores for a fixed 4-term query over every
    document: tf explode filtered to the query terms, |Q|-row df broadcast,
    one-row (N, total_len) broadcast; k1/b as exact integer ratios, idf and
    tf-norm rendered from ONE shared expression string so per-term doubles
    are bit-identical cross-engine, e4-floored before the doc sum."""
    return T.bm25_scores(load(spark, sf_dir, "documents"), list(_BM25_TERMS))


# --- anchor-text aggregation ----------------------------------------------------


def _anchor_text_oracle() -> str:
    html = W.anchored_html_sql("text", "doc_id")
    hs, asx = W.anchor_pairs_arrays_sql("html", P.DUCK)
    return f"""
    WITH h AS (SELECT doc_id, {html} AS html FROM documents),
    arrs AS (SELECT {hs} AS _hs, {asx} AS _as FROM h),
    ix AS (SELECT _hs, _as, unnest(generate_series(1, len(_hs))) AS i FROM arrs),
    pr AS (SELECT {W.host_sql('_hs[i]')} AS host, _as[i] AS _anchor FROM ix),
    ha AS (SELECT host, _anchor, cast(count(*) as bigint) AS _n
           FROM pr WHERE host IS NOT NULL GROUP BY 1, 2),
    top AS (SELECT host, _anchor, _n FROM
            (SELECT *, row_number() OVER (PARTITION BY host ORDER BY _n DESC, _anchor ASC) AS rn
             FROM ha) WHERE rn = 1),
    ag AS (SELECT host, cast(sum(_n) as bigint) AS n_anchors,
                  cast(count(*) as bigint) AS variety FROM ha GROUP BY 1)
    SELECT a.host, a.n_anchors, a.variety,
           t._anchor AS top_anchor, t._n AS top_anchor_n
    FROM ag a JOIN top t USING (host)
    """


@register("q_anchor_text", _anchor_text_oracle())
def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per target host (the link-context signal a
    crawl frontier attaches to unfetched pages): pages rebuilt with varied
    anchor labels (13 contested texts + 'me' self links + anchorless
    dangling pages), pairs from ONE shared regex via arrays_zip, two
    combinable aggs, majority anchor by exact struct-min argmax."""
    d = load(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id", F.expr(W.anchored_html_sql("text", "doc_id")).alias("html")
    )
    return W.anchor_text_agg(pages)


# --- URL blocklist filtering ----------------------------------------------------

_BLOCK_RULES = ("site13.example", "site7.example", "example.net", "badtld")


def _blocklist_oracle() -> str:
    from gaia_spark.queries import _PAGES_CTE

    rules = ", ".join(f"('{r}')" for r in sorted(_BLOCK_RULES))
    sfx = W.host_suffixes_sql("host", P.DUCK)
    return f"""
    WITH {_PAGES_CTE},
    h AS (SELECT url, {W.host_sql('url')} AS host FROM pages),
    sx AS (SELECT url, unnest({sfx}) AS _sfx FROM h),
    rules(rule) AS (VALUES {rules}),
    hits AS (SELECT url, min(rule) AS blocked_by
             FROM sx JOIN rules ON _sfx = rule GROUP BY 1),
    j AS (SELECT h.host, hits.blocked_by FROM h LEFT JOIN hits USING (url))
    SELECT host, blocked_by, cast(count(*) as bigint) AS n_pages
    FROM j GROUP BY 1, 2
    """


@register("q_url_blocklist", _blocklist_oracle())
def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-suffix blocklist filtering (the URL-filter stage every crawl
    pipeline runs before fetch/extract): hosts explode to their
    dot-suffixes in-plan, ONE broadcast equi-join to the rule table (never
    a LIKE scan), verdicts ride back on a left join; per (host, verdict)
    rollup hash-checked — blocked hosts carry their first matching rule,
    kept hosts NULL."""
    from gaia_spark.queries import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    out = W.blocklist_filter(pages, list(_BLOCK_RULES))
    return out.groupBy("host", "blocked_by").agg(
        F.count("*").cast("long").alias("n_pages")
    )


# --- in-engine logistic-regression quality classifier ----------------------------

_LRQ_B, _LRQ_R = 64, 3
_LRQ_Y = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"


def _logreg_oracle() -> str:
    from gaia_spark.operators.classifier import LR_OFF, SIGMOID_E6

    grams = T.shingles_sql("text", P.DUCK, 2)
    b = f"({P.md5_int60('g', P.DUCK)} % {_LRQ_B})"
    parts = [
        f"""fe AS (SELECT doc_id, {b} AS _b, cast(count(*) as bigint) AS x
          FROM (SELECT doc_id, unnest({grams}) AS g FROM documents)
          GROUP BY 1, 2),
    lab AS (SELECT doc_id, cast({_LRQ_Y} as bigint) AS y FROM documents),
    nn AS (SELECT cast(count(*) as bigint) AS n FROM documents),
    w0 AS (SELECT DISTINCT _b, cast(0 as bigint) AS w_e6 FROM fe)"""
    ]
    prev = "w0"
    for r in range(1, _LRQ_R + 1):
        parts.append(
            f"""z{r} AS (SELECT f.doc_id, l.y, cast(sum(f.x * w.w_e6) as bigint) AS z_i
            FROM fe f JOIN {prev} w USING (_b) JOIN lab l USING (doc_id)
            GROUP BY 1, 2),
    e{r} AS (SELECT doc_id, cast({SIGMOID_E6} - y * 1000000 as bigint) AS e_e6 FROM z{r}),
    g{r} AS (SELECT _b, cast(sum(f.x * e.e_e6) as bigint) AS g
            FROM fe f JOIN e{r} e USING (doc_id) GROUP BY 1),
    w{r} AS (SELECT _b,
            cast(w.w_e6 - (((g.g + cast({LR_OFF} as bigint) * nn.n) // nn.n) - {LR_OFF}) as bigint) AS w_e6
            FROM {prev} w JOIN g{r} g USING (_b) CROSS JOIN nn)"""
        )
        prev = f"w{r}"
    parts.append(
        f"""zf AS (SELECT f.doc_id, cast(sum(f.x * w.w_e6) as bigint) AS z_i
           FROM fe f JOIN {prev} w USING (_b) GROUP BY 1)"""
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT doc_id, z_i, {SIGMOID_E6} AS score_e6,
           cast(CASE WHEN {SIGMOID_E6} >= 500000 THEN 1 ELSE 0 END as int) AS pred
    FROM zf
    """


@register("q_logreg_quality", _logreg_oracle())
def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier training INSIDE the engine: 3 full-batch
    logistic-regression rounds over 64 hashed-bigram buckets (label:
    lang == 'en'), weights e6-requantized each round, the lone float
    (sigmoid) floored to e6 before every gradient sum — then every doc
    scored under the trained weights. Per-doc logit, score and prediction
    hash-checked against a 3-round CTE replay."""
    from gaia_spark.operators.classifier import logreg_score, logreg_train

    docs = load(spark, sf_dir, "documents")
    w = logreg_train(docs, _LRQ_Y, n_buckets=_LRQ_B, n_rounds=_LRQ_R)
    return logreg_score(docs, w, n_buckets=_LRQ_B)


# --- URL canonicalization (crawl-dedup normalization key) ---------------------

# messy-URL fixture: consecutive doc_id pairs (2k, 2k+1) spell the same
# resource differently — scheme/host case, default :443 port, scrambled
# query-param order, trailing slash, fragment — so canonicalization
# genuinely collapses variants (n_urls = 2 groups) and the kept :8443
# port / missing-query cases stay distinct. One shared SQL string.
_PAIR_ID = P.idiv_sql("doc_id", 2)
_MESSY_URL = (
    "concat("
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END, "
    "CASE WHEN doc_id % 2 = 0 THEN 'Site' ELSE 'site' END, "
    f"{_PAIR_ID} % 500, "
    "CASE WHEN doc_id % 3 = 0 THEN '.EXAMPLE' ELSE '.example' END, "
    "CASE WHEN doc_id % 4 = 1 THEN ':443' "
    "WHEN doc_id % 10 = 6 THEN ':8443' ELSE '' END, "
    f"'/p/', {_PAIR_ID}, "
    "CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END, "
    f"CASE WHEN doc_id % 4 = 0 THEN concat('?z=9&a=', {_PAIR_ID} % 9) "
    f"WHEN doc_id % 4 = 1 THEN concat('?a=', {_PAIR_ID} % 9, '&z=9') "
    f"WHEN doc_id % 4 = 3 THEN concat('?a=', {_PAIR_ID} % 9, '&z=9') "
    "ELSE '' END, "
    "CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END)"
)


def _url_canonical_oracle() -> str:
    from gaia_spark.functions import web as W

    return f"""
    WITH u AS (SELECT {_MESSY_URL} AS url FROM documents),
    c AS (SELECT url, {W.canonical_url_sql('url', W.DUCK)} AS canon_url FROM u)
    SELECT canon_url, count(*) AS n_urls, min(url) AS first_url
    FROM c GROUP BY canon_url
    """


@register("q_url_canonical", _url_canonical_oracle())
def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + variant-collapse rollup: lowercase
    scheme/authority, default-port strip, fragment drop, query-param sort,
    trailing-slash trim — the normalization key that runs BEFORE exact
    dedup so trivially distinct spellings join. Map-only JVM regex/array
    chain feeding one hash agg; the driver hash-checks the canonical
    STRINGS themselves."""
    from gaia_spark.functions import web as W

    d = load(spark, sf_dir, "documents")
    u = d.select(F.expr(_MESSY_URL).alias("url"))
    c = u.withColumn("canon_url", F.expr(W.canonical_url_sql("url", W.SPARK)))
    return c.groupBy("canon_url").agg(
        F.count("*").alias("n_urls"), F.min("url").alias("first_url")
    )


# --- redirect-chain resolution (crawl frontier normalization) ------------------

# redirect fixture: within each 64-doc block, doc p=0 is the terminal landing
# page, docs p=1..8 chain straight down to it, and p=9/10 form a 2-cycle that
# docs p=11..63 drain into — so the resolver sees short chains (resolved),
# a genuine loop (never resolves), and long chains capped at 16 hops.
_RURL_SELF = "concat('https://h', doc_id % 40, '.example/r/', doc_id)"
_RURL_DST = (
    "concat('https://h', (CASE WHEN doc_id % 64 = 9 THEN doc_id + 1 "
    "ELSE doc_id - 1 END) % 40, '.example/r/', "
    "CASE WHEN doc_id % 64 = 9 THEN doc_id + 1 ELSE doc_id - 1 END)"
)


def _redirects_oracle() -> str:
    return f"""
    WITH RECURSIVE e AS (SELECT {_RURL_SELF} AS src, {_RURL_DST} AS dst
                         FROM documents WHERE doc_id % 64 != 0),
    walk AS (SELECT src, dst AS cur, 1 AS hops FROM e
             UNION ALL
             SELECT w.src, e2.dst, w.hops + 1
             FROM walk w JOIN e e2 ON e2.src = w.cur WHERE w.hops < 16),
    last AS (SELECT src, cur, hops,
                    row_number() OVER (PARTITION BY src ORDER BY hops DESC) AS rn
             FROM walk)
    SELECT l.src, l.cur AS final, cast(l.hops as bigint) AS n_hops,
           (e3.src IS NULL) AS resolved
    FROM last l LEFT JOIN e e3 ON e3.src = l.cur
    WHERE l.rn = 1
    """


@register("q_redirects", _redirects_oracle())
def q_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution over a synthetic 301-graph with straight
    chains, a 2-cycle, and chains draining into the cycle: every source
    resolves to its landing URL, exact hop count, and a resolved/give-up
    verdict at the 16-hop cap. The engine pointer-doubles the jump table
    (4 self-joins for 16 hops); the oracle walks ONE hop at a time as a
    recursive CTE — derivation disagreement, one answer."""
    from gaia_spark.operators.graph import resolve_redirects

    d = load(spark, sf_dir, "documents").where("doc_id % 64 != 0")
    edges = d.select(
        F.expr(_RURL_SELF).alias("src"), F.expr(_RURL_DST).alias("dst")
    )
    return resolve_redirects(edges, max_hops_log2=4)


# --- robots.txt evaluation (crawl-politeness gate) -----------------------------

# rules fixture from the 25-row nation table: each nation n hosts rules on
# h<n>.example — disallow /r/<n%10> with a longer allow carve-out
# /r/<n%10>1, and every 5th nation a blanket disallow / — so verdicts
# exercise longest-match, the disallow-on-tie default, carve-out overrides,
# and hosts 25..39 with no rules at all (default allow).
_ROBOTS_RULES = """
    SELECT concat('h', n_nationkey, '.example') AS host,
           'disallow' AS rule_type,
           concat('/r/', n_nationkey % 10) AS path_prefix FROM nation
    UNION ALL
    SELECT concat('h', n_nationkey, '.example'),
           'allow', concat('/r/', n_nationkey % 10, '1') FROM nation
    UNION ALL
    SELECT concat('h', n_nationkey, '.example'), 'disallow', '/'
    FROM nation WHERE n_nationkey % 5 = 0
"""


def _robots_oracle() -> str:
    host = W.host_sql("url")
    path = W.path_of_sql("url")
    return f"""
    WITH u AS (SELECT DISTINCT {_RURL_SELF} AS url FROM documents),
    p AS (SELECT url, {host} AS host, {path} AS path FROM u),
    r AS ({_ROBOTS_RULES}),
    m AS (SELECT p.url, r.rule_type, r.path_prefix,
                 row_number() OVER (
                   PARTITION BY p.url
                   ORDER BY length(r.path_prefix) DESC,
                            CASE WHEN r.rule_type = 'disallow' THEN 0 ELSE 1 END,
                            r.path_prefix) AS rn
          FROM p JOIN r ON r.host = p.host
          AND substr(p.path, 1, length(r.path_prefix)) = r.path_prefix)
    SELECT u.url, coalesce(m.rule_type, 'allow') AS verdict,
           m.path_prefix AS matched_rule
    FROM u LEFT JOIN m ON m.url = u.url AND m.rn = 1
    """


def _robots_rules_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The _ROBOTS_RULES fixture as a DataFrame (Spark twin of the CTE)."""
    n = load(spark, sf_dir, "nation")
    hostc = F.concat(F.lit("h"), F.col("n_nationkey").cast("string"), F.lit(".example"))
    r1 = n.select(
        hostc.alias("host"),
        F.lit("disallow").alias("rule_type"),
        F.concat(F.lit("/r/"), (F.col("n_nationkey") % 10).cast("string")).alias(
            "path_prefix"
        ),
    )
    r2 = n.select(
        hostc.alias("host"),
        F.lit("allow").alias("rule_type"),
        F.concat(
            F.lit("/r/"), (F.col("n_nationkey") % 10).cast("string"), F.lit("1")
        ).alias("path_prefix"),
    )
    r3 = n.where(F.col("n_nationkey") % 5 == 0).select(
        hostc.alias("host"),
        F.lit("disallow").alias("rule_type"),
        F.lit("/").alias("path_prefix"),
    )
    return r1.unionByName(r2).unionByName(r3)


@register("q_robots", _robots_oracle())
def q_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt evaluation with Google longest-match semantics over the
    synthetic crawl URLs: longest matching path prefix wins, disallow
    beats allow on ties, no-rule hosts default to allow. The engine picks
    the winner with ONE combinable min(struct) aggregate on a sortable
    key; the oracle ranks with a window — derivation disagreement, one
    answer, verdict strings hash-checked per URL."""
    from gaia_spark.functions.web import robots_verdicts

    d = load(spark, sf_dir, "documents")
    urls = d.select(F.expr(_RURL_SELF).alias("url")).distinct()
    return robots_verdicts(urls, _robots_rules_df(spark, sf_dir))


# --- composed crawl-ingest pipeline (gate -> resolve -> collapse) --------------


def _crawl_pipeline_oracle() -> str:
    host = W.host_sql("url")
    path = W.path_of_sql("url")
    return f"""
    WITH RECURSIVE e AS (SELECT {_RURL_SELF} AS src, {_RURL_DST} AS dst
                         FROM documents WHERE doc_id % 64 != 0),
    walk AS (SELECT src, dst AS cur, 1 AS hops FROM e
             UNION ALL
             SELECT w.src, e2.dst, w.hops + 1
             FROM walk w JOIN e e2 ON e2.src = w.cur WHERE w.hops < 16),
    last AS (SELECT src, cur, hops,
                    row_number() OVER (PARTITION BY src ORDER BY hops DESC) AS rn
             FROM walk),
    res AS (SELECT l.src, l.cur AS final, (e3.src IS NULL) AS resolved
            FROM last l LEFT JOIN e e3 ON e3.src = l.cur WHERE l.rn = 1),
    u AS (SELECT {_RURL_SELF} AS url FROM documents),
    p AS (SELECT DISTINCT url, {host} AS host, {path} AS path FROM u),
    r AS ({_ROBOTS_RULES}),
    m AS (SELECT p.url, r.rule_type,
                 row_number() OVER (
                   PARTITION BY p.url
                   ORDER BY length(r.path_prefix) DESC,
                            CASE WHEN r.rule_type = 'disallow' THEN 0 ELSE 1 END,
                            r.path_prefix) AS rn
          FROM p JOIN r ON r.host = p.host
          AND substr(p.path, 1, length(r.path_prefix)) = r.path_prefix),
    verd AS (SELECT p.url, coalesce(m.rule_type, 'allow') AS verdict
             FROM p LEFT JOIN m ON m.url = p.url AND m.rn = 1),
    kept AS (SELECT u.url, coalesce(res.final, u.url) AS landing,
                    coalesce(res.resolved, true) AS ok
             FROM u JOIN verd ON verd.url = u.url
             LEFT JOIN res ON res.src = u.url
             WHERE verd.verdict = 'allow')
    SELECT landing, cast(count(*) as bigint) AS n_docs
    FROM kept WHERE ok GROUP BY landing
    """


@register("q_crawl_pipeline", _crawl_pipeline_oracle())
def q_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl-ingest pipeline — the three web gates chained the way
    a real frontier runs them: robots.txt verdict on the fetch URL
    (longest-match), redirect-chain resolution to the landing page
    (pointer-doubled; give-ups dropped), then collapse to landing-URL
    groups (the exact-dedup key). Every stage is the already-proven
    operator; the oracle chains the same stages as CTEs (recursive walk
    for redirects, window rank for robots)."""
    from gaia_spark.functions.web import robots_verdicts
    from gaia_spark.operators.graph import resolve_redirects

    d = load(spark, sf_dir, "documents")
    urls = d.select(F.expr(_RURL_SELF).alias("url"))
    v = robots_verdicts(urls.distinct(), _robots_rules_df(spark, sf_dir))
    edges = d.where("doc_id % 64 != 0").select(
        F.expr(_RURL_SELF).alias("src"), F.expr(_RURL_DST).alias("dst")
    )
    r = resolve_redirects(edges, max_hops_log2=4).select(
        F.col("src").alias("url"), "final", "resolved"
    )
    kept = (
        urls.join(v, "url")
        .where(F.col("verdict") == "allow")
        .join(r, "url", "left")
        .where(F.coalesce(F.col("resolved"), F.lit(True)))
        .select(F.coalesce(F.col("final"), F.col("url")).alias("landing"))
    )
    return kept.groupBy("landing").agg(F.count("*").cast("long").alias("n_docs"))


# --- BPE encoding (apply a fixed tokenizer) ------------------------------------

# the fixed tokenizer: 4 merge rules in round order, rule 3 merging two
# PLACEHOLDER symbols (a merge of merges) so multi-round composition is
# exercised, not just independent digraphs
_BPE_MERGES = [("e", "r"), ("t", "h"), ("th", "er"), ("o", "n")]


def _bpe_encode_oracle() -> str:
    # run-parity merge == left-to-right non-overlapping replace of pa||pb
    # by a fresh placeholder char (chr(k) never occurs in the corpus), so
    # the whole 4-round encode is one chained replace and n_syms is the
    # final character count
    enc = "w"
    enc = f"replace({enc}, 'er', chr(1))"
    enc = f"replace({enc}, 'th', chr(2))"
    enc = f"replace({enc}, chr(2) || chr(1), chr(3))"
    enc = f"replace({enc}, 'on', chr(4))"
    return f"""
    WITH dw AS (SELECT doc_id, w, cast(count(*) as bigint) AS cnt
                FROM (SELECT doc_id, unnest({DUCK_WORDS}) AS w FROM documents)
                WHERE length(w) > 0 GROUP BY doc_id, w),
    enc AS (SELECT w, cast(length({enc}) as bigint) AS n_syms
            FROM (SELECT DISTINCT w FROM dw))
    SELECT doc_id, cast(sum(cnt) as bigint) AS n_words,
           cast(sum(cnt * n_syms) as bigint) AS n_tokens
    FROM dw JOIN enc USING (w) GROUP BY doc_id
    """


@register("q_bpe_encode", _bpe_encode_oracle())
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with a fixed 4-rule tokenizer (the application half of
    q_bpe_merges' training): per-document word and token counts. The
    engine applies the rules positionally on the vocabulary (run-parity
    windows + rebuild, distinct words only) and maps the corpus by one
    equi-join; the oracle exploits run-parity == greedy non-overlapping
    string replace and encodes each word as a chained replace() with
    placeholder chars — derivation disagreement, one answer, exact
    integer counts."""
    from gaia_spark.operators.dedup import bpe_encode_counts

    d = load(spark, sf_dir, "documents")
    out = bpe_encode_counts(d, _BPE_MERGES)
    return out.select(
        "doc_id", F.col("n_words").cast("long").alias("n_words"), "n_tokens"
    )


# --- PMI collocations (phrase mining) -------------------------------------------

_COLL_MIN = 5


def _collocations_oracle() -> str:
    lift = (
        "cast(c_ab as double) * cast(n as double)"
        " / (cast(c_a as double) * cast(c_b as double))"
    )
    return f"""
    WITH wl AS (SELECT {DUCK_WORDS} AS ws FROM documents),
    w0 AS (SELECT unnest(ws) AS wd FROM wl),
    wx AS (SELECT wd FROM w0 WHERE length(wd) > 0),
    uni AS (SELECT wd, cast(count(*) as bigint) AS c FROM wx GROUP BY wd),
    nn AS (SELECT cast(count(*) as bigint) AS n FROM wx),
    bp AS (SELECT unnest(list_transform(range(1, len(ws)),
                  i -> {{'a': ws[i], 'b': ws[i + 1]}})) AS pr
           FROM wl WHERE len(ws) >= 2),
    pw AS (SELECT pr.a AS w1, pr.b AS w2 FROM bp
           WHERE length(pr.a) > 0 AND length(pr.b) > 0),
    cab AS (SELECT w1, w2, cast(count(*) as bigint) AS c_ab FROM pw
            GROUP BY w1, w2 HAVING count(*) >= {_COLL_MIN})
    SELECT cab.w1, cab.w2, c_ab, ua.c AS c_a, ub.c AS c_b,
           {P.floor_scaled_sql(lift, 6)} AS lift_e6
    FROM cab JOIN uni ua ON ua.wd = cab.w1
    JOIN uni ub ON ub.wd = cab.w2 CROSS JOIN nn
    """


@register("q_collocations", _collocations_oracle())
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-style collocations over the corpus: adjacent word pairs seen
    >= 5 times with their independence lift c_ab·N/(c_a·c_b) floored to
    e6 — one positional-bigram explode (no self-join), combinable hash
    aggs, two vocabulary-sized joins, one shared IEEE expression over
    exact bigint counts."""
    from gaia_spark.functions.text import collocations

    return collocations(load(spark, sf_dir, "documents"), min_count=_COLL_MIN)


# --- degree assortativity of the host graph --------------------------------------


def _assortativity_oracle() -> str:
    v = "(2 * m * _sxx - _sx * _sx)"
    r = f"cast(2 * m * _sxy - _sx * _sx as double) / cast({v} as double)"
    return f"""
    WITH {_PR_EDGES_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM edges WHERE src != dst),
    deg AS (SELECT node, cast(count(*) as bigint) AS deg
            FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
            GROUP BY node),
    ed AS (SELECT a.deg AS du, b.deg AS dv FROM und
           JOIN deg a ON a.node = und.u JOIN deg b ON b.node = und.v),
    mom AS (SELECT cast(count(*) as bigint) AS m,
                   cast(sum(du + dv) as bigint) AS _sx,
                   cast(sum(du * du + dv * dv) as bigint) AS _sxx,
                   cast(sum(2 * du * dv) as bigint) AS _sxy FROM ed),
    nn AS (SELECT cast(count(*) as bigint) AS n_nodes FROM deg)
    SELECT n_nodes, m AS n_edges,
           CASE WHEN m >= 2 AND {v} > 0 THEN {P.floor_scaled_sql(r, 6)}
                ELSE NULL END AS assortativity_e6
    FROM mom, nn
    """


@register("q_assortativity", _assortativity_oracle())
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the deterministic host link graph — do hub
    hosts link to hubs or to leaves? Exact-bigint degree moments, one
    shared IEEE expression for the Pearson coefficient, e6-floored."""
    from gaia_spark.operators.graph import degree_assortativity

    hosts = (
        load(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).alias("h"))
        .distinct()
        .where("h % 10 != 0")
    )
    edges = (
        hosts.select(
            "h",
            F.explode(
                F.expr("array((h * 3 + 1) % 97, (h * 5 + 2) % 97, (h * 7 + 3) % 97)")
            ).alias("dst"),
        )
        .select(F.col("h").alias("src"), "dst")
        .distinct()
    )
    return degree_assortativity(edges)


# --- host concentration (corpus health report) ----------------------------------

# skewed host fixture: quadratic residue mapping gives a long-tailed host
# size distribution (many residues collapse onto low host ids)
_CONC_HOST = P.idiv_sql("(doc_id % 32) * (doc_id % 32)", 16)


def _host_concentration_oracle() -> str:
    ent_term = P.floor_scaled_sql("cast(_x as double) * ln(cast(_x as double))", 4)
    gini = P.bigint_div(
        "(2 * _six - (n_hosts + 1) * n_total) * 1000000", "n_hosts * n_total", P.DUCK
    )
    hhi = P.bigint_div("_sxx * 1000000", "n_total * n_total", P.DUCK)
    ent = (
        "ln(cast(n_total as double)) - cast(_sent as double)"
        " / (cast(10000 as double) * cast(n_total as double))"
    )
    return f"""
    WITH hc AS (SELECT {_CONC_HOST} AS _h, cast(count(*) as bigint) AS _x
                FROM documents GROUP BY 1),
    ranked AS (SELECT _h, _x,
                      cast(row_number() OVER (ORDER BY _x ASC, _h ASC) as bigint) AS _i
               FROM hc WHERE _x > 0),
    agg AS (SELECT cast(count(*) as bigint) AS n_hosts,
                   cast(sum(_x) as bigint) AS n_total,
                   cast(sum(_i * _x) as bigint) AS _six,
                   cast(sum(_x * _x) as bigint) AS _sxx,
                   cast(sum({ent_term}) as bigint) AS _sent
            FROM ranked)
    SELECT n_hosts, n_total,
           CASE WHEN n_total > 0 THEN {gini} ELSE NULL END AS gini_e6,
           CASE WHEN n_total > 0 THEN {hhi} ELSE NULL END AS hhi_e6,
           CASE WHEN n_total > 0 THEN {P.floor_scaled_sql(ent, 4)}
                ELSE NULL END AS entropy_e4
    FROM agg
    """


@register("q_host_concentration", _host_concentration_oracle())
def q_host_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus host-concentration report over a long-tailed synthetic host
    distribution: Gini (rank formula, exact bigint numerator + floor
    division), HHI (exact Σx²/(Σx)²) and Shannon entropy (e4-pre-sum
    quantized terms) — ONE bounded host-table sort + ONE combinable
    aggregate."""
    from gaia_spark.functions.web import host_concentration

    d = load(spark, sf_dir, "documents")
    counts = d.groupBy(F.expr(_CONC_HOST).alias("host")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return host_concentration(counts)


# --- registered-domain (eTLD+1) extraction ---------------------------------------

# host fixture: subdomain depth x TLD matrix incl. multi-label public
# suffixes ('co.uk' must beat 'uk'), bare-suffix hosts (unregistrable ->
# NULL) and an off-list TLD (no match -> NULL)
_ETLD_HOST = (
    "CASE WHEN doc_id % 50 = 0 THEN 'com' ELSE concat("
    "CASE WHEN doc_id % 3 = 1 THEN 'www.' WHEN doc_id % 3 = 2 THEN 'a.b.' ELSE '' END, "
    "'site', doc_id % 20, "
    "CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.org' "
    "WHEN doc_id % 4 = 2 THEN '.co.uk' ELSE '.internal' END) END"
)
_ETLD_SUFFIXES = ("com", "org", "co.uk", "uk")


def _etld1_oracle() -> str:
    sfx_vals = ", ".join(f"('{s}')" for s in sorted(_ETLD_SUFFIXES))
    return f"""
    WITH h AS (SELECT DISTINCT {_ETLD_HOST} AS host FROM documents),
    p AS (SELECT host, string_split(host, '.') AS parts FROM h),
    sx AS (SELECT host, parts, i,
                  array_to_string(parts[i:], '.') AS sfx
           FROM p, unnest(generate_series(1, len(parts))) AS t(i)),
    rules(suffix) AS (VALUES {sfx_vals}),
    m AS (SELECT host, min(i) AS w FROM sx JOIN rules ON rules.suffix = sx.sfx
          GROUP BY host)
    SELECT h2.host,
           CASE WHEN m.w IS NOT NULL
                THEN array_to_string(p2.parts[m.w:], '.') END AS public_suffix,
           CASE WHEN m.w >= 2
                THEN array_to_string(p2.parts[(m.w - 1):], '.') END AS etld1
    FROM h h2 LEFT JOIN m ON m.host = h2.host
    JOIN p p2 ON p2.host = h2.host
    """


@register("q_etld1", _etld1_oracle())
def q_etld1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain (eTLD+1) extraction against a public-suffix rule
    table: longest suffix wins (co.uk beats uk), the eTLD+1 is one label
    longer, bare-suffix and off-list hosts are NULL. Suffix explode +
    ONE broadcast equi-join + combinable min(struct) — the domain-level
    grouping key for dedup quotas and concentration stats."""
    from gaia_spark.functions.web import registered_domain

    d = load(spark, sf_dir, "documents")
    hosts = d.select(F.expr(_ETLD_HOST).alias("host"))
    sfx = local_df(spark, [(s,) for s in sorted(_ETLD_SUFFIXES)], "suffix string")
    return registered_domain(hosts, sfx)


# --- positional phrase search (top trigram postings) -----------------------------


def _phrase_oracle() -> str:
    return f"""
    WITH wl AS (SELECT doc_id, {DUCK_WORDS} AS ws FROM documents),
    g AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+2], ' ') AS phrase
          FROM wl, unnest(generate_series(1, len(ws) - 2)) AS t(i)
          WHERE len(ws) >= 3),
    top AS (SELECT phrase, cast(count(*) as bigint) AS n_total FROM g
            GROUP BY phrase ORDER BY n_total DESC, phrase ASC LIMIT 1)
    SELECT g.doc_id, cast(g.pos as bigint) AS pos, g.phrase, top.n_total
    FROM g JOIN top ON top.phrase = g.phrase
    """


@register("q_phrase_search", _phrase_oracle())
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase retrieval end to end: build the positional
    trigram index, pick the corpus-wide top phrase (count desc, text
    asc — deterministic), and list every (doc, word-offset) posting of
    it via a broadcast join back onto the same exploded relation."""
    from gaia_spark.functions.text import top_phrase_occurrences

    return top_phrase_occurrences(load(spark, sf_dir, "documents"), k=3)


# --- KMV cross-shard overlap estimation -------------------------------------------

_KMV_K = 64
_KMV_A = "concat('k', doc_id % 350)"
_KMV_B = "concat('k', 150 + doc_id % 350)"


def _kmv_oracle() -> str:
    from gaia_spark.operators.sketch import kmv_est_sql

    k = _KMV_K
    est = kmv_est_sql(k)
    jac = P.bigint_div("rho * 1000000", "n_u", P.DUCK)
    inter = P.bigint_div("rho * est_union", "n_u", P.DUCK)
    return f"""
    WITH ha AS (SELECT DISTINCT {P.md5_int60(_KMV_A, P.DUCK)} AS h FROM documents),
    hb AS (SELECT DISTINCT {P.md5_int60(_KMV_B, P.DUCK)} AS h FROM documents),
    ma AS (SELECT h FROM ha ORDER BY h ASC LIMIT {k}),
    mb AS (SELECT h FROM hb ORDER BY h ASC LIMIT {k}),
    mu AS (SELECT h FROM (SELECT h FROM ma UNION SELECT h FROM mb)
           ORDER BY h ASC LIMIT {k}),
    marked AS (SELECT mu.h,
                      CASE WHEN ma.h IS NOT NULL AND mb.h IS NOT NULL
                           THEN 1 ELSE 0 END AS _both
               FROM mu LEFT JOIN ma ON ma.h = mu.h LEFT JOIN mb ON mb.h = mu.h),
    ea AS (SELECT cast(count(*) as bigint) AS n_a, max(h) AS _kth FROM ma),
    eb AS (SELECT cast(count(*) as bigint) AS n_b, max(h) AS _kth FROM mb),
    eu AS (SELECT cast(count(*) as bigint) AS n_u, max(h) AS _kth,
                  cast(sum(_both) as bigint) AS rho FROM marked),
    est AS (SELECT
      ea.n_a, eb.n_b,
      CASE WHEN ea.n_a < {k} THEN ea.n_a ELSE
        cast((SELECT {est} FROM (SELECT ea._kth AS _kth)) as bigint) END AS est_a,
      CASE WHEN eb.n_b < {k} THEN eb.n_b ELSE
        cast((SELECT {est} FROM (SELECT eb._kth AS _kth)) as bigint) END AS est_b,
      CASE WHEN eu.n_u < {k} THEN eu.n_u ELSE
        cast((SELECT {est} FROM (SELECT eu._kth AS _kth)) as bigint) END AS est_union,
      eu.n_u, eu.rho
      FROM ea, eb, eu)
    SELECT cast({k} as bigint) AS k, n_a, n_b, est_a, est_b, est_union, rho,
           CASE WHEN n_u > 0 THEN {jac} ELSE NULL END AS jaccard_e6,
           CASE WHEN n_u > 0 THEN {inter} ELSE NULL END AS est_inter
    FROM est
    """


@register("q_kmv_overlap", _kmv_oracle())
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cross-shard overlap estimation over two key universes with
    designed 40% Jaccard overlap: per-shard k-minimum-value sketches
    (distinct md5 + exact distributed top-k), union sketch, ρ coincidence
    count, and (k−1)/θ estimates — every input to every estimate an
    exact bigint, the cross-shard dedup-rate answer without ever joining
    the corpora."""
    from gaia_spark.operators.sketch import kmv_mins, kmv_overlap

    d = load(spark, sf_dir, "documents")
    ma = kmv_mins(d, _KMV_K, _KMV_A)
    mb = kmv_mins(d, _KMV_K, _KMV_B)
    return kmv_overlap(ma, mb, _KMV_K)


# --- k-core of the host graph -------------------------------------------------------

_KCORE_K, _KCORE_R = 4, 12


def _kcore_oracle() -> str:
    return f"""
    WITH RECURSIVE {_PR_EDGES_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM edges WHERE src != dst),
    peel AS (
      SELECT 0 AS rnd, u, v FROM und
      UNION ALL
      SELECT rnd + 1 AS rnd, u, v FROM (
        SELECT rnd, u, v, count(*) OVER (PARTITION BY rnd, node) AS deg
        FROM (SELECT rnd, u, v, unnest([u, v]) AS node FROM peel
              WHERE rnd < {_KCORE_R})
      ) GROUP BY rnd, u, v HAVING min(deg) >= {_KCORE_K}
    )
    SELECT node, cast(count(*) as bigint) AS core_deg
    FROM (SELECT unnest([u, v]) AS node FROM peel WHERE rnd = {_KCORE_R})
    GROUP BY node
    """


@register("q_kcore", _kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the deterministic host link graph — iterative peeling to
    the maximal subgraph of minimum degree 4 (the link-spam / dense-
    community filter). The engine peels with a scan-based convergence
    check; the oracle replays a FIXED 12 rounds as a recursive CTE
    (post-convergence rounds are no-ops) — derivation disagreement, one
    answer, pure integer degree thresholds."""
    from gaia_spark.operators.graph import k_core

    hosts = (
        load(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).alias("h"))
        .distinct()
        .where("h % 10 != 0")
    )
    edges = (
        hosts.select(
            "h",
            F.explode(
                F.expr("array((h * 3 + 1) % 97, (h * 5 + 2) % 97, (h * 7 + 3) % 97)")
            ).alias("dst"),
        )
        .select(F.col("h").alias("src"), "dst")
        .distinct()
    )
    return k_core(edges, k=_KCORE_K, max_rounds=_KCORE_R)
