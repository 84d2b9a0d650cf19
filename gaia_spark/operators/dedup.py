"""Deduplication operators for web-scale corpora.

Beyond the reference's operator set — first-class training-data-pipeline
components: exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
All hashing is md5-derived (:func:`portable.md5_int60`) so every stage is
cross-engine deterministic and DuckDB-oracle-checkable. Plans are pure
DataFrame (explode + hash-agg + self-join on band keys) — no Python UDFs.

Scale notes (10^12 docs): exact dedup is one hash-agg on md5(text);
MinHash is explode(shingles) → one combine-enabled agg (n_hashes mins per
doc) → band self-join where the band key space keeps partitions bounded;
candidate verification joins back only LSH-matched pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gaia_spark.functions import portable as P
from gaia_spark.functions.text import shingles_sql


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: (text_hash, n_docs, keeper=min id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct text."""
    w_keeper = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keeper").alias(id_col)
    )
    return df.join(w_keeper, id_col, "left_semi")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
) -> DataFrame:
    """MinHash signature columns sig_0..sig_{n-1} per doc.

    One explode + ONE aggregation computing all n mins (map-side combine
    keeps the shuffle at n_hashes longs per doc regardless of doc length).
    """
    sh = df.select(
        F.col(id_col), F.explode(F.expr(shingles_sql(text_col, P.SPARK))).alias("s")
    )
    aggs = [
        F.min(F.expr(P.md5_int60(f"concat('{k}:', s)", P.SPARK))).alias(f"sig_{k}")
        for k in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    max_band_count: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (a < b) sharing ≥1 band of the MinHash signature.

    bands = n_hashes / band_size; a pair collides on a band iff all
    band_size signature slots match — the classic banding amplification.

    ``max_band_count``: hot-band guard for DEGENERATE corpora. A band key
    shared by k docs expands to k²/2 candidate pairs in the self-join; a
    boilerplate-dominated corpus where one band matches millions of docs
    turns that band into a quadratic straggler no AQE split can save.
    With a cap, bands whose doc count exceeds it are dropped BEFORE the
    self-join (tiny hot-key set, broadcast anti-join). Dropping a hot band
    only loses pairs that collide SOLELY on it: a hot band carries no
    discriminative signal (it matches "everything"), near-dup pairs still
    collide on their other n_bands−1 bands, and byte-identical dups are
    exact_dedup's job, not LSH's. Default None (no cap) keeps the operator
    oracle-exact for the driver queries.
    """
    sigs = minhash_signatures(df, id_col, text_col, n_hashes)
    n_bands = n_hashes // band_size
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(b),
            *[F.col(f"sig_{b * band_size + j}").cast("string") for j in range(band_size)],
        ).alias("band")
        for b in range(n_bands)
    ]
    bands = sigs.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("band"))
    if max_band_count is not None:
        hot = (
            bands.groupBy("band")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_band_count)
            .select("band")
        )
        bands = bands.join(F.broadcast(hot), "band", "left_anti")
    a = bands.select(F.col(id_col).alias("a"), "band")
    b = bands.select(F.col(id_col).alias("b"), "band")
    return (
        a.join(b, "band")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """SimHash fingerprint over word token hashes (bit b set iff the sum of
    ±1 votes across tokens is positive). One explode + one agg."""
    words = df.select(
        F.col(id_col),
        F.explode(F.expr(P.split_ws(text_col, P.SPARK))).alias("w"),
    ).withColumn("h", F.expr(P.md5_int60("w", P.SPARK)))
    votes = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {b}) % 2 = 1"), F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = words.groupBy(id_col).agg(*votes)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, banded for scale.

    Pigeonhole recall guarantee: split the ``bits``-bit signature into
    ``bands`` contiguous bit-bands; a pair within ``max_hamming < bands``
    differing bits cannot differ in every band, so it agrees EXACTLY on at
    least one band key. Candidates therefore come from a band-key
    equi-join (bucketed, never all-pairs — same shape as
    :func:`minhash_lsh_pairs`), and the exact Hamming check (popcount of
    xor via the engine-portable ``(a|b)-(a&b)`` identity — no ``^`` in
    DuckDB, no ``xor()`` in Spark SQL) runs only on candidates.

    Returns (a, b, hamming) with a < b and hamming ≤ max_hamming.
    """
    if bits % bands:
        raise ValueError(f"bits ({bits}) must divide evenly into bands ({bands})")
    if max_hamming >= bands:
        raise ValueError(
            f"recall guarantee needs max_hamming < bands (got {max_hamming} >= "
            f"{bands}): a pair could spread its differing bits across every band "
            "and never collide"
        )
    w = bits // bands
    sig = simhash(df, id_col, text_col, bits)
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(b),
            F.expr(f"({P.idiv_sql('simhash', 1 << (b * w))}) % {1 << w}").cast("string"),
        ).alias("band")
        for b in range(bands)
    ]
    keyed = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("band")
    )
    a = keyed.select(F.col(id_col).alias("a"), F.col("simhash").alias("sig_a"), "band")
    b = keyed.select(F.col(id_col).alias("b"), F.col("simhash").alias("sig_b"), "band")
    cand = (
        a.join(b, "band")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .distinct()
    )
    ham = "bit_count((sig_a | sig_b) - (sig_a & sig_b))"
    return (
        cand.withColumn("hamming", F.expr(ham).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def url_edit_pairs(
    pages: DataFrame,
    max_dist: int = 2,
    url_col: str = "url",
    max_host_count: int | None = None,
) -> DataFrame:
    """URL-variant near-dup pairs (crawl-frontier dedup): pairs of URLs on
    the SAME host within ``max_dist`` Levenshtein edits — catches trailing
    slashes, tracking-parameter noise, pagination twins.

    Scale shape: candidates come from a host equi-join (the natural crawl
    politeness key — one shuffle, never all-pairs); ``levenshtein`` is a
    JVM builtin on both engines, and Spark's threshold form
    ``levenshtein(a, b, t)`` early-exits the DP once distance exceeds t.
    Mega-hosts make the per-key join quadratic — ``max_host_count`` drops
    hosts above the cap via a broadcast anti-join of the (tiny) hot-host
    set, the same guard pattern as minhash_lsh_pairs.

    Returns (url_a, url_b, dist) with url_a < url_b and dist ≤ max_dist.
    """
    from gaia_spark.functions import web as W

    u = pages.select(
        F.col(url_col).alias("url"), F.expr(W.host_sql(url_col)).alias("host")
    ).where(F.col("host").isNotNull()).distinct()
    if max_host_count is not None:
        hot = (
            u.groupBy("host").agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_host_count)
            .select("host")
        )
        u = u.join(F.broadcast(hot), "host", "left_anti")
    a = u.select(F.col("url").alias("url_a"), "host")
    b = u.select(F.col("url").alias("url_b"), "host")
    return (
        a.join(b, "host")
        .where(F.col("url_a") < F.col("url_b"))
        # threshold form stops the DP early; it returns -1 ABOVE the
        # threshold, so the filter must exclude negatives explicitly
        .withColumn(
            "dist", F.expr(f"levenshtein(url_a, url_b, {int(max_dist)})").cast("int")
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= int(max_dist)))
        .select("url_a", "url_b", "dist")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    scope: DataFrame | None = None,
) -> DataFrame:
    """Jaccard similarity of distinct-word sets for candidate doc pairs.

    ``scope``: optional (a, b) candidate pairs (e.g. from minhash_lsh_pairs)
    — the scalable path verifies ONLY LSH candidates; without it, all pairs
    (test scale only). Returns (a, b, jaccard_e4 ≥ threshold).
    """
    words = df.select(
        F.col(id_col), F.explode(F.expr(P.split_ws(text_col, P.SPARK))).alias("w")
    ).distinct()
    sizes = words.groupBy(id_col).agg(F.count("*").alias("sz"))
    wa = words.select(F.col(id_col).alias("a"), "w")
    wb = words.select(F.col(id_col).alias("b"), "w")
    if scope is not None:
        # scalable path: intersect word sets ONLY for candidate pairs —
        # cost Σ_pairs |words(a)|, never the all-pairs word self-join
        inter = (
            scope.select("a", "b")
            .join(wa, "a")
            .join(wb, ["b", "w"])
            .groupBy("a", "b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        # exact all-pairs witness (test scale only)
        inter = (
            wa.join(wb, "w")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("n_common"))
        )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    jac = "n_common / cast(sz_a + sz_b - n_common as double)"
    return (
        inter.join(sa, "a").join(sb, "b")
        .withColumn("jaccard_e4", F.expr(P.floor_scaled_sql(jac, 4)))
        .where(F.col("jaccard_e4") >= int(threshold * 10_000))
        .select("a", "b", "jaccard_e4")
    )


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over an undirected duplicate-pair graph:
    (doc_id, cluster_id = min doc id of the component). The step after
    pair generation in a real dedup pipeline — near-dup is not transitive,
    so pairs (a,b), (b,c) must collapse into ONE cluster before choosing
    what to keep. Pointer-doubling min-label propagation
    (stats.min_label_components), O(log diameter) rounds — at 100 TB the
    pair graph's components are shallow (dup chains, not paths), so this
    is 2-3 shuffle rounds in practice."""
    from gaia_spark.operators.stats import min_label_components

    e = pairs.select(F.col(a_col).alias("doc_id"), F.col(b_col).alias("neighbor"))
    edges = e.unionByName(
        pairs.select(F.col(b_col).alias("doc_id"), F.col(a_col).alias("neighbor"))
    )
    nodes = edges.select("doc_id").distinct()
    labels = min_label_components(
        nodes, edges, node_col="doc_id", nbr_col="neighbor", max_iter=max_iter
    )
    return labels.withColumnRenamed("label", "cluster_id")


def dedup_keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    a_col: str = "a", b_col: str = "b",
) -> DataFrame:
    """Corpus minus duplicates: every doc in a dup cluster except the
    cluster's min-id representative is dropped (deterministic canonical
    selection — mirrorable as min() per component in SQL). Docs in no
    pair are kept untouched; one broadcast-size anti-join against the
    (small) set of non-canonical ids."""
    labels = dup_clusters(pairs, a_col, b_col)
    drop = labels.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def line_dedup(
    docs: DataFrame,
    seg_words: int = 3,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Corpus-level LINE deduplication (the CCNet/RefinedWeb boilerplate
    pass): split every document into non-overlapping ``seg_words``-word
    segments, find segments appearing in >= ``min_docs`` DISTINCT documents
    (nav bars, cookie banners, license footers), and rebuild each document
    with those segments removed, order preserved.

    Returns one row per input document: ``(id_col, clean_text, n_kept)``
    (``clean_text = ''`` when every segment was boilerplate — the row is
    NOT silently dropped).

    Scale shape: segment counting is one combine-enabled hash agg keyed by
    segment; the HOT set (everything above threshold) is by definition tiny
    relative to the corpus, so the removal is a broadcast LEFT ANTI join
    (``broadcast_hot=False`` falls back to a shuffled anti-join for
    adversarial corpora where boilerplate is a large fraction). The rebuild
    is one groupBy(doc) with an array_sort over (pos, seg) structs — per-doc
    state is document-sized, never corpus-sized, and no stage collects to
    the driver."""
    from gaia_spark.functions.text import chunk_texts_sql

    chunks = chunk_texts_sql(text_col, P.SPARK, seg_words, seg_words)
    seg = docs.select(
        F.col(id_col), F.posexplode(F.expr(chunks)).alias("pos", "seg")
    )
    hot = (
        seg.groupBy("seg")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= int(min_docs))
        .select("seg")
    )
    kept = seg.join(F.broadcast(hot) if broadcast_hot else hot, "seg", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg), ' ')"
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination scan (the eval-leakage check every
    training-corpus pipeline runs before a model sees the data): for each
    training document, the fraction of its word ``k``-gram shingles that
    also appear in the ``benchmark`` corpus.

    Returns ``(id_col, n_grams, n_hit, contam_e4)`` for every training doc
    (``contam_e4`` = hit fraction, fixed-point e4) — thresholding/dropping
    is the caller's policy decision.

    Scale shape: the benchmark n-gram vocabulary is distinct-deduped and
    BROADCAST (eval suites are tiny next to a training corpus — thousands
    of docs vs billions); the training side is one shingle explode + one
    broadcast LEFT SEMI-shaped join (inner join + per-doc count, then a
    left join back for zero-hit docs) + two combinable aggs. Nothing
    corpus-sized ever shuffles on anything finer than ``id_col``."""
    from gaia_spark.functions.text import shingles_sql

    sh = shingles_sql(text_col, P.SPARK, k)
    bench_grams = (
        benchmark.select(F.explode(F.expr(sh)).alias("g")).distinct()
    )
    grams = docs.select(F.col(id_col), F.explode(F.expr(sh)).alias("g"))
    totals = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    hits = (
        grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    frac = P.floor_scaled_sql("cast(n_hit as double) / cast(n_grams as double)", 4)
    return (
        totals.join(hits, id_col, "left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long"),
            F.col("n_hit").cast("long"),
            F.expr(frac).alias("contam_e4"),
        )
    )


def duplicate_passages(
    df: DataFrame,
    k: int = 8,
    min_run: int = 12,
    max_gram_docs: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-PASSAGE detection across documents — the
    substring-level dedup of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), word-granular: every maximal run of
    ≥ ``min_run`` identical consecutive words shared by a document pair,
    with its text and offsets. (The paper builds a corpus suffix array;
    the distributed shape here reaches the same runs through rare-gram
    anchors.)

    Scale shape (100 TB): positional ``k``-grams explode in-plan; grams
    seen in 2..``max_gram_docs`` distinct docs anchor candidates (the cap
    bounds the gram self-join exactly like the MinHash band guard — a gram
    in half the corpus is boilerplate the line/MinHash passes own;
    documented recall trade). Anchors on the same (a, b, pos_a − pos_b)
    DIAGONAL collapse to one candidate BEFORE texts are fetched (groupBy
    min — a maximal run lives on one diagonal, so the per-position blowup
    dies in-plan). Texts join in once per surviving pair-diagonal; the
    run extension (genuinely iterative) is one Arrow applyInPandas stage,
    linear in run length.

    Returns (a, b, start_a, start_b, run_len, passage) — rows-only by
    nature (the extension loop is not SQL-expressible); brute-force parity
    is pytest-pinned."""
    import pandas as pd

    toks = f"{P.split_ws(text_col, P.SPARK)}"
    grams = df.select(
        F.col(id_col).alias("_d"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 0)), "
                f"i -> concat_ws(' ', slice({toks}, i, {k})))"
            )
        ).alias("_pos", "_g"),
    )
    counts = grams.groupBy("_g").agg(
        F.countDistinct("_d").alias("_nd")
    ).where((F.col("_nd") >= 2) & (F.col("_nd") <= max_gram_docs))
    anchored = grams.join(counts.select("_g"), "_g")
    a = anchored.select(F.col("_d").alias("a"), F.col("_pos").alias("pa"), "_g")
    b = anchored.select(F.col("_d").alias("b"), F.col("_pos").alias("pb"), "_g")
    # one candidate per CONSECUTIVE anchor run ("island") per diagonal, not
    # per diagonal (ADVICE r4: two separate duplicated passages can share a
    # diagonal; min(pa) alone would only report the earlier one). Island id
    # = pa - row_number, the classic gaps-and-islands key; cap-induced
    # anchor holes inside one true run just yield extra candidates whose
    # identical maximal runs collapse in the final distinct().
    wisl = Window.partitionBy("a", "b", "_diag").orderBy("pa")
    cand = (
        a.join(b, "_g")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", (F.col("pa") - F.col("pb")).alias("_diag"), "pa", "pb")
        .withColumn("_isl", F.col("pa") - F.row_number().over(wisl))
        .groupBy("a", "b", "_diag", "_isl")
        .agg(F.min("pa").alias("start_a"), F.min("pb").alias("start_b"))
        .drop("_isl")
    )
    texts = df.select(F.col(id_col).alias("_tid"), F.expr(toks).alias("_toks"))
    joined = (
        cand.join(texts.withColumnRenamed("_tid", "a").withColumnRenamed("_toks", "_ta"), "a")
        .join(texts.withColumnRenamed("_tid", "b").withColumnRenamed("_toks", "_tb"), "b")
    )

    def extend(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for a_, b_, sa, sb, ta, tb in zip(
                pdf["a"], pdf["b"], pdf["start_a"], pdf["start_b"], pdf["_ta"], pdf["_tb"]
            ):
                ta, tb = list(ta), list(tb)
                i, j = int(sa), int(sb)  # posexplode anchors are 0-based
                lo = 0
                while i - lo > 0 and j - lo > 0 and ta[i - lo - 1] == tb[j - lo - 1]:
                    lo += 1
                hi = 0
                while (
                    i + hi < len(ta) and j + hi < len(tb) and ta[i + hi] == tb[j + hi]
                ):
                    hi += 1
                run = lo + hi
                if run >= min_run:
                    s_a, s_b = i - lo, j - lo
                    rows.append(
                        (a_, b_, s_a + 1, s_b + 1, run, " ".join(ta[s_a : s_a + run]))
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["a", "b", "start_a", "start_b", "run_len", "passage"],
                )

    out = joined.mapInPandas(
        extend,
        "a long, b long, start_a int, start_b int, run_len int, passage string",
    )
    # distinct: two anchor diagonals can merge into one run only if the run
    # text repeats INSIDE a doc; identical (pair, offsets) rows collapse
    return out.distinct()


def _bpe_parity_keep(m: DataFrame) -> DataFrame:
    """Left-to-right non-overlapping subset of matched merge positions
    (``m`` = (w, pos)): within each run of CONSECUTIVE matches only even
    offsets merge — the classic 'aaaa' -> ['aa','aa'] BPE semantics.
    Windows run per WORD (vocabulary-sized state, never corpus-sized)."""
    win = Window.partitionBy("w").orderBy("pos")
    return (
        m.withColumn("_rk", F.row_number().over(win))
        .withColumn("_grp", F.col("pos") - F.col("_rk"))
        .withColumn(
            "_off",
            F.row_number().over(Window.partitionBy("w", "_grp").orderBy("pos")),
        )
        .where((F.col("_off") % 2) == 1)
        .select("w", F.col("pos").alias("mpos"))
    )


def _bpe_rebuild(vocab: DataFrame, keep: DataFrame) -> DataFrame:
    """Apply the kept merge positions to every word's symbol sequence:
    position mpos absorbs its right neighbor (concat), mpos+1 disappears.
    One posexplode + three positional left joins + one per-word rebuild
    aggregate — all vocabulary-sized."""
    sym_rows = vocab.select("w", "wc", F.posexplode("syms").alias("pos", "sym"))
    started = keep.select("w", F.col("mpos").alias("pos"), F.lit(1).alias("_st"))
    consumed = keep.select(
        "w", (F.col("mpos") + 1).alias("pos"), F.lit(1).alias("_cn")
    )
    # lead_sym: the symbol at pos+1 (the merge partner)
    nxt = sym_rows.select(
        "w", (F.col("pos") - 1).alias("pos"), F.col("sym").alias("lead_sym")
    )
    return (
        sym_rows.join(started, ["w", "pos"], "left")
        .join(consumed, ["w", "pos"], "left")
        .join(nxt, ["w", "pos"], "left")
        .where(F.col("_cn").isNull())
        .groupBy("w")
        .agg(
            F.first("wc").alias("wc"),
            F.expr(
                "transform(array_sort(collect_list(struct(pos, "
                "CASE WHEN _st = 1 THEN concat(sym, lead_sym) ELSE sym END as s))),"
                " x -> x.s)"
            ).alias("syms"),
        )
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distributed BPE vocabulary training (Sennrich et al. 2016): learn
    ``n_merges`` merge rules from corpus word frequencies — the tokenizer-
    construction step of an LLM data pipeline.

    Scale shape (100 TB): after ONE corpus pass builds the word-frequency
    table, every round runs on the VOCABULARY (distinct words — orders of
    magnitude smaller than the corpus) as pure DataFrame ops: adjacent-
    pair counts weighted by word frequency (one combinable agg), the
    argmax merge by a deterministic total order (count desc, then pair
    lexicographic — orderBy+limit on the tiny pair table), then one
    rebuild shuffle per round. No Python, no driver-side loops over data
    (the Python ``for`` builds the PLAN; per-round localCheckpoint cuts
    lineage).

    Left-to-right non-overlapping merge semantics are realized
    positionally: within each run of CONSECUTIVE matching positions only
    even offsets merge (runs are length 1 unless pair_a == pair_b, where
    e.g. 'aaaa' → ['aa','aa'] — the classic BPE edge case).

    Returns the learned merge table (round, pair_a, pair_b, pair_count)
    — bit-exact integers, cross-engine replayable."""
    from gaia_spark.session import iter_checkpoint

    words = (
        df.select(F.explode(F.expr(P.split_ws(text_col, P.SPARK))).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("wc"))
        .select(
            F.col("w"),
            "wc",
            F.expr(
                "transform(sequence(1, length(w)), i -> substr(w, i, 1))"
            ).alias("syms"),
        )
    )
    vocab = iter_checkpoint(words.select("w", "wc", "syms"))
    merges = None
    for rnd in range(1, n_merges + 1):
        # sequence(0, -1) is DESCENDING in Spark: single-symbol words
        # must not enter the pair builder (they stay in vocab, inert)
        pairs = vocab.where(F.size("syms") >= 2).select(
            "w",
            "wc",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] as pa, syms[i + 1] as pb))"
                )
            ).alias("pos", "pr"),
        ).select("w", "wc", "pos", F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
        top = (
            pairs.groupBy("pa", "pb")
            .agg(F.sum("wc").cast("long").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("pa").asc(), F.col("pb").asc())
            .limit(1)
            .withColumn("round", F.lit(rnd).cast("int"))
        )
        # materialize the 1-row winner NOW: `merges` is read only after the
        # loop, by which point this round's vocab blocks have been released
        top = iter_checkpoint(top)
        merges = top if merges is None else merges.unionByName(top)
        # positions matching the winning pair; run-parity keeps the
        # left-to-right non-overlapping subset
        m = (
            pairs.join(F.broadcast(top.select("pa", "pb")), ["pa", "pb"])
            .select("w", "pos")
        )
        rebuilt = _bpe_rebuild(vocab, _bpe_parity_keep(m))
        vocab = iter_checkpoint(rebuilt.select("w", "wc", "syms"), release=vocab)
    return merges.select("round", "pa", "pb", "pair_count")


def bpe_apply(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a FIXED merge-rule list (the trained tokenizer, in round
    order) to a vocabulary of distinct words: the encoding half of BPE
    (:func:`bpe_train` is the learning half). ``words`` = (w); returns
    (w, syms) with the fully merged symbol sequence per word.

    Scale shape: identical to one training round minus the pair-count
    aggregate — per rule ONE positional filter (the pair is a plan
    literal, no join) + the run-parity window + the rebuild, all on the
    VOCABULARY (distinct words), never the corpus. The corpus-sized step
    is only the final word→tokens equi-join done by the caller.

    Run-parity semantics make each rule exactly equivalent to a
    left-to-right non-overlapping string replace of pa||pb by a fresh
    placeholder — which is how the DuckDB oracle replays encoding as a
    chained replace()/length() expression."""
    from gaia_spark.session import iter_checkpoint

    vocab = iter_checkpoint(
        words.select(
            "w",
            F.lit(1).cast("long").alias("wc"),
            F.expr(
                "transform(sequence(1, length(w)), i -> substr(w, i, 1))"
            ).alias("syms"),
        )
    )
    for pa, pb in merges:
        m = (
            vocab.where(F.size("syms") >= 2)
            .select(
                "w",
                F.posexplode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] as pa, syms[i + 1] as pb))"
                    )
                ).alias("pos", "pr"),
            )
            .where((F.col("pr.pa") == pa) & (F.col("pr.pb") == pb))
            .select("w", "pos")
        )
        rebuilt = _bpe_rebuild(vocab, _bpe_parity_keep(m))
        vocab = iter_checkpoint(rebuilt.select("w", "wc", "syms"), release=vocab)
    return vocab.select("w", "syms")


def bpe_encode_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize every document with a fixed BPE merge list and return
    (id, n_words, n_tokens) — the cost accounting step of an LLM data
    pipeline (sequence packing and sampling budgets run on n_tokens).

    The encode work factors through the vocabulary: each DISTINCT word is
    merged once (:func:`bpe_apply`), then one corpus-sized equi-join maps
    word occurrences to token counts and ONE combinable agg rolls up per
    document. Exact integers end to end."""
    doc_words = (
        df.select(
            F.col(id_col), F.explode(F.expr(P.split_ws(text_col, P.SPARK))).alias("w")
        )
        .where(F.length("w") > 0)
        .groupBy(id_col, "w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    vocab = bpe_apply(doc_words.select("w").distinct(), merges).select(
        "w", F.size("syms").cast("long").alias("n_syms")
    )
    return (
        doc_words.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_syms")).cast("long").alias("n_tokens"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_df: int = 2,
    max_df: int = 8,
) -> DataFrame:
    """Asymmetric shingle containment |A∩B|/|A| for candidate pairs that
    share at least one RARE k-shingle (2 ≤ df ≤ max_df).

    Direction matters where Jaccard doesn't: a quoted excerpt has high
    containment in its source but low Jaccard — the partial-inclusion
    signal of dedup pipelines (Broder's containment, the one MinHash can't
    estimate without the set sizes).

    Scale shape (100 TB): candidate generation is scoped to rare shingles
    (df-capped inverted index — the same rare-anchor discipline as
    duplicate_passages), so the self-join fan-out per shingle is ≤ max_df²
    and common-boilerplate shingles never explode; the exact intersection
    is computed only for candidate pairs via two id-keyed semi-scoped
    joins + one combinable count. Output has the full quadruple
    (inter, |A|, |B|, both directions e6) so thresholds stay downstream.
    """
    sh = (
        df.select(
            F.col(id_col),
            F.explode(F.expr(shingles_sql(text_col, P.SPARK, k=k))).alias("s"),
        )
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    rare = dfreq.filter((F.col("df") >= min_df) & (F.col("df") <= max_df)).select("s")
    r1 = sh.join(F.broadcast(rare), "s").select(
        F.col("s"), F.col(id_col).alias("a")
    )
    r2 = sh.join(F.broadcast(rare), "s").select(
        F.col("s"), F.col(id_col).alias("b")
    )
    cand = (
        r1.join(r2, "s")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    ia = sh.select(F.col(id_col).alias("a"), F.col("s"))
    ib = sh.select(F.col(id_col).alias("b"), F.col("s"))
    inter = (
        cand.join(ia, "a")
        .join(ib, ["b", "s"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("n_b")), "b")
    )
    c_ab = "(cast(inter as double) / cast(n_a as double))"
    c_ba = "(cast(inter as double) / cast(n_b as double))"
    return out.select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.col("inter").cast("long").alias("inter"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.expr(P.floor_scaled_sql(c_ab, 6)).alias("cont_ab_e6"),
        F.expr(P.floor_scaled_sql(c_ba, 6)).alias("cont_ba_e6"),
    )


# --- DuckDB oracle twin (cycle-free home; see clustering.kmeans_oracle_ctes) --

def minhash_oracle_ctes(n_hashes: int = 8, band_size: int = 2) -> str:
    sh = shingles_sql("text", P.DUCK)
    hashed = [P.md5_int60(f"'{k}:' || s", P.DUCK) for k in range(n_hashes)]
    sigs = ", ".join(f"min({h}) AS sig_{k}" for k, h in enumerate(hashed))
    n_bands = n_hashes // band_size
    bands = ", ".join(
        "concat("
        + f"'{b}', '_', "
        + ", '_', ".join(f"cast(sig_{b * band_size + j} as varchar)" for j in range(band_size))
        + ")"
        for b in range(n_bands)
    )
    return f"""
    sh AS (SELECT doc_id, unnest({sh}) AS s FROM documents),
    sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
    bands AS (SELECT doc_id, unnest([{bands}]) AS band FROM sig)
    """


def minhash_accuracy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """MinHash ESTIMATE vs EXACT Jaccard for every LSH candidate pair —
    the sketch-quality evaluation: est = matching signature slots / k,
    exact = |A∩B| / |A∪B| over distinct shingles, plus the absolute
    error, all e6-quantized. Exact verification is scoped to the banded
    candidates (the same never-all-pairs discipline as the dedup ops)."""
    sigs = minhash_signatures(df, id_col, text_col, n_hashes)
    pairs = minhash_lsh_pairs(df, id_col, text_col, n_hashes, band_size)
    sa = sigs.select(
        F.col(id_col).alias("a"), *[F.col(f"sig_{k}").alias(f"_a{k}") for k in range(n_hashes)]
    )
    sb = sigs.select(
        F.col(id_col).alias("b"), *[F.col(f"sig_{k}").alias(f"_b{k}") for k in range(n_hashes)]
    )
    match = " + ".join(
        f"(CASE WHEN _a{k} = _b{k} THEN 1 ELSE 0 END)" for k in range(n_hashes)
    )
    est = pairs.join(sa, "a").join(sb, "b").select(
        "a", "b",
        F.expr(
            P.floor_scaled_sql(
                f"(cast({match} as double) / cast({n_hashes} as double))", 6
            )
        ).alias("est_e6"),
    )
    sh = (
        df.select(
            F.col(id_col),
            F.explode(F.expr(shingles_sql(text_col, P.SPARK))).alias("s"),
        ).distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    ia = sh.select(F.col(id_col).alias("a"), "s")
    ib = sh.select(F.col(id_col).alias("b"), "s")
    inter = (
        pairs.join(ia, "a").join(ib, ["b", "s"])
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
    )
    j = (
        est.join(inter, ["a", "b"], "left")
        .join(sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("n_b")), "b")
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
    )
    exact = (
        "(cast(inter as double) / cast(n_a + n_b - inter as double))"
    )
    return j.select(
        "a", "b", "est_e6",
        F.expr(P.floor_scaled_sql(exact, 6)).alias("exact_e6"),
        F.expr(
            P.floor_scaled_sql(
                f"abs(cast(est_e6 as double) / cast(1000000 as double) - {exact})", 6
            )
        ).alias("abs_err_e6"),
    )
