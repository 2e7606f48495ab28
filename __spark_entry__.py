"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator surface (SURVEY.md §2) over the
driver-generated tables at sf_dir; `oracle_sql()` gives the DuckDB-equivalent
for every SQL-expressible query.  Where the driver tables carry no duplicate
structure, queries derive it deterministically in-query (e.g. union with a
truncated copy) — the SAME derivation on both sides, so the comparison stays
meaningful.

Non-SQL-expressible ops (MinHash/LSH clustering, SimHash, winnowing) have
queries() entries only -> driver records the weaker rows-only check; their
real correctness gates are tests/ (recall vs brute-force oracle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _url(col="doc_id"):
    return F.format_string("d%08d", F.col(col))


def _drop3(col):
    """Drop the last 3 whitespace tokens — linear split/slice (the anchored
    backtracking regex equivalent costs O(n^2) JVM CPU).  Used only by
    rows-only/smoke queries; oracle-checked queries keep the regex form that
    exactly matches their SQL."""
    t = F.split(F.trim(col), r"\s+")
    n = F.greatest(F.size(t) - F.lit(3), F.lit(0))
    return F.concat_ws(" ", F.slice(t, 1, n))


def _corpus_with_exact_dups(spark, sf_dir) -> DataFrame:
    """documents ∪ copy of every 10th doc (same text, shifted id) — derives
    exact-dup groups deterministically (the driver tables plant none)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return d.unionByName(dup)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dedup pipeline (fingerprint -> LSH -> CC ->
    clusters) over a corpus derived from sf0.001 documents with planted
    near-dup structure (each doc unioned with a 3-token-truncated twin)."""
    from bigtrees_spark.plans.pipeline import near_dedup_pipeline

    d = _docs(spark, SF_DEFAULT)
    base = d.select(_url().alias("url"), "text")
    twin = d.select(
        F.format_string("t%08d", F.col("doc_id")).alias("url"),
        _drop3("text").alias("text"),
    )
    corpus = base.unionByName(twin)
    res = near_dedup_pipeline(corpus, persist=False)
    # release the run's internal caches before handing the lazy frame to the
    # driver: persist keeps lineage, so the driver's collect recomputes the
    # released frames deterministically instead of reading (and then leaking)
    # this run's cache entries in the shared driver session
    res.unpersist()
    return res.clusters


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_exact_dupes(spark, sf_dir):
    from bigtrees_spark.operators.dedup import exact_dupe_groups

    c = _corpus_with_exact_dups(spark, sf_dir).select(
        _url().alias("url"),
        F.length("text").alias("nbytes"),
        F.sha2("text", 256).alias("sha256"),
    )
    return exact_dupe_groups(c).select("sha256", "n_members", "n_bytes", "savings")


def q_dupes_report(spark, sf_dir):
    """Savings-ordered dupes report with canonical member (min url)."""
    from bigtrees_spark.operators.dedup import exact_dupe_groups

    c = _corpus_with_exact_dups(spark, sf_dir).select(
        _url().alias("url"),
        F.length("text").alias("nbytes"),
        F.sha2("text", 256).alias("sha256"),
    )
    g = exact_dupe_groups(c)
    return g.select(
        "sha256",
        "n_members",
        "savings",
        F.element_at("members", 1).alias("canonical"),
    )


def q_find_filter(spark, sf_dir):
    from bigtrees_spark.operators.find import SearchConfig, find

    d = _docs(spark, sf_dir).select(
        F.col("source").alias("url"),  # label regexes target `source`
        F.col("doc_id"),
        F.col("lang"),
        F.col("n_chars").alias("nbytes"),
        F.sha2("text", 256).alias("sha256"),
    )
    cfg = SearchConfig(
        min_bytes=100,
        max_bytes=400,
        langs=["en", "de"],
        labeled_searches=[("teen", [r"^src1[0-9]$"]), ("low", [r"^src[0-3]$"])],
        out_cols=["doc_id", "lang", "nbytes", "label"],
    )
    return find(d, cfg)


def q_find_exclude(spark, sf_dir):
    from bigtrees_spark.operators.sets import exclude, hash_set_from_docs

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("nbytes"),
        F.sha2("text", 256).alias("sha256"),
    )
    excl = hash_set_from_docs(d.where(F.col("doc_id") % 20 == 0), note="x")
    return exclude(d, excl).select("doc_id")


def q_set_add(spark, sf_dir):
    from bigtrees_spark.operators.sets import hash_set_from_docs, set_add

    d = _docs(spark, sf_dir).select(
        "doc_id", F.length("text").alias("nbytes"), F.sha2("text", 256).alias("sha256")
    )
    a = hash_set_from_docs(d.where(F.col("doc_id") % 7 == 0), note="a")
    b = hash_set_from_docs(d.where(F.col("doc_id") % 5 == 0), note="b")
    return set_add(a, [b])


def q_snapshot_diff(spark, sf_dir):
    """Add/Rm/Edit between two derived snapshots (no moves here; see
    q_move_detect)."""
    from bigtrees_spark.operators.diff import snapshot_diff

    d = _docs(spark, sf_dir)
    old = d.where(F.col("doc_id") % 50 != 0).select(
        _url().alias("url"), F.sha2("text", 256).alias("sha256")
    )
    new = d.where(F.col("doc_id") % 40 != 0).select(
        _url().alias("url"),
        F.sha2(
            F.when(F.col("doc_id") % 30 == 0, F.concat(F.col("text"), F.lit(" edited")))
            .otherwise(F.col("text")),
            256,
        ).alias("sha256"),
    )
    return snapshot_diff(old, new).select("kind", "url", "url_new")


def q_move_detect(spark, sf_dir):
    """Mv pairs: every 25th doc gets a new url in the second snapshot, same
    content (Delta.hs:85-101 digest-equijoin semantics)."""
    from bigtrees_spark.operators.diff import snapshot_diff

    d = _docs(spark, sf_dir)
    old = d.select(_url().alias("url"), F.sha2("text", 256).alias("sha256"))
    new = d.select(
        F.when(
            F.col("doc_id") % 25 == 0, F.format_string("m%08d", F.col("doc_id"))
        )
        .otherwise(_url())
        .alias("url"),
        F.sha2("text", 256).alias("sha256"),
    )
    return snapshot_diff(old, new).select("kind", "url", "url_new")


def q_digest_tree(spark, sf_dir):
    from bigtrees_spark.operators.digest import partition_digests

    d = _docs(spark, sf_dir).select(
        _url().alias("url"),
        (F.col("doc_id") % 16).cast("int").alias("bucket"),
        F.length("text").alias("nbytes"),
        F.sha2("text", 256).alias("sha256"),
    )
    return partition_digests(d, bucket_col="bucket").select(
        "bucket", "digest", "n_docs", "n_bytes"
    )


def q_root_info(spark, sf_dir):
    from bigtrees_spark.operators.digest import partition_digests, rollup_digest_tree, root_info

    d = _docs(spark, sf_dir).select(
        _url().alias("url"),
        (F.col("doc_id") % 16).cast("int").alias("bucket"),
        F.length("text").alias("nbytes"),
        F.sha2("text", 256).alias("sha256"),
    )
    tree = rollup_digest_tree(partition_digests(d, bucket_col="bucket"), fanout=16)
    return root_info(tree).select("root_digest", "total_docs", "total_bytes")


def q_token_count(spark, sf_dir):
    from bigtrees_spark.operators.textstats import with_token_counts

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return with_token_counts(d).select("doc_id", "n_words", "n_tokens_bpe")


def q_bpe_token_count(spark, sf_dir):
    """Learned-BPE token counts (functions/bpe.py): merges trained on a
    seed-pinned driver sample, applied via Arrow UDF.  Rows-only — the merge
    table is corpus-statistics-dependent, not SQL-expressible; the tokenizer
    itself is known-answer-gated in tests/test_bpe.py."""
    from bigtrees_spark.functions.bpe import fit_bpe, with_bpe_token_counts

    d = _docs(spark, sf_dir).select("doc_id", "text")
    merges = fit_bpe(d, n_merges=200, sample_size=1000)
    return with_bpe_token_counts(d, merges).select("doc_id", "n_tokens_bpe_learned")


def q_quality(spark, sf_dir):
    from bigtrees_spark.operators.textstats import with_quality

    d = _docs(spark, sf_dir).select("doc_id", "text")
    q = with_quality(d)
    return q.select(
        "doc_id",
        "n_chars",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        "stopword_hits",
        F.col("quality_ok").cast("int").alias("quality_ok"),
    )


def q_lang_id(spark, sf_dir):
    from bigtrees_spark.operators.textstats import with_lang_id

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return with_lang_id(d).select("doc_id", "lang_guess")


def q_ann_topk(spark, sf_dir):
    from bigtrees_spark.operators.similarity import brute_force_topk

    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    out = brute_force_topk(e.where(F.col("vec_id") < 10), e, k=3)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


def q_embedding_neardup(spark, sf_dir):
    """Brute-force embedding-cosine near-dup pairs above a threshold (the
    exactness baseline for the LSH path)."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ).where(F.col("vec_id") < 300)
    from bigtrees_spark.operators.similarity import make_cosine_udf

    pairs = (
        e.alias("l")
        .join(e.alias("r"), F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("id_l"),
            F.col("r.vec_id").alias("id_r"),
            make_cosine_udf()(F.col("l.v"), F.col("r.v")).alias("c"),
        )
        .where(F.col("c") >= 0.25)
    )
    return pairs.select("id_l", "id_r", F.round("c", 5).alias("cosine"))


def q_ngram_jaccard(spark, sf_dir):
    """Exact token-5-gram Jaccard near-dup pairs over documents ∪ truncated
    twins — the n-gram-Jaccard dedup op with a fully SQL-expressible oracle."""
    d = _docs(spark, sf_dir)
    base = d.select(_url().alias("url"), F.lower("text").alias("text"))
    twin = d.select(
        F.format_string("t%08d", F.col("doc_id")).alias("url"),
        F.lower(F.regexp_replace("text", r"(\s+\S+){3}$", "")).alias("text"),
    )
    c = base.unionByName(twin)
    toks = c.select("url", F.split(F.trim("text"), r"[^a-z0-9]+").alias("t"))
    sh = (
        toks.select(
            "url",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("t") - 5, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice("t", i + 1, 5)),
                )
            ).alias("s"),
        )
        .distinct()
    )
    sizes = sh.groupBy("url").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .where(F.col("a.url") < F.col("b.url"))
        .groupBy(F.col("a.url").alias("url_l"), F.col("b.url").alias("url_r"))
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"url": "url_l", "n": "n_l"}), "url_l")
        .join(sizes.withColumnsRenamed({"url": "url_r", "n": "n_r"}), "url_r")
        .withColumn("jaccard", F.round(F.col("i") / (F.col("n_l") + F.col("n_r") - F.col("i")), 6))
        .where(F.col("jaccard") >= 0.5)
        .select("url_l", "url_r", "jaccard")
    )


def q_substring_dups(spark, sf_dir):
    """Winnowing substring pass over chained docs (d_i = text_i + ' ' +
    text_{i+1}): the verified common substring between d_i and d_{i+1} is
    exactly text_{i+1}, so the oracle is closed-form."""
    from bigtrees_spark.operators.substring import substring_edges

    d = _docs(spark, sf_dir).select("doc_id", "text")
    # self-join on doc_id+1 (the oracle's own form): stays parallel, unlike a
    # no-partition window whose lead() funnels through a single-partition sort
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("next_text"))
    chained = d.join(nxt, "doc_id")
    corpus = chained.select(
        _url().alias("url"), F.concat("text", F.lit(" "), "next_text").alias("text")
    )
    # restrict to adjacent pairs: the driver's documents table plants genuine
    # near-dups, so NON-adjacent chained docs can legitimately share >=256-byte
    # runs — real detections, but with no closed-form SQL oracle.  The
    # unrestricted pass is gated in tests/test_pipeline.py against the planted
    # fixture; here we verify exact recall + match_len on the derivable subset.
    # unscoped: the per-pair cache serves only the operator's own branch
    # count, so nothing leaks into the shared driver session; the driver's
    # collect recomputes from lineage
    edges = substring_edges(corpus)
    adjacent = F.expr(
        "cast(substring(url_r, 2) as long) = cast(substring(url_l, 2) as long) + 1"
    )
    return edges.where(adjacent).select("url_l", "url_r", "match_len")


def q_minhash_lsh_clusters(spark, sf_dir):
    """Full MinHash/LSH/CC pipeline (rows-only driver check; recall gate lives
    in tests/ vs the brute-force oracle)."""
    from bigtrees_spark.plans.pipeline import near_dedup_pipeline

    d = _docs(spark, sf_dir)
    base = d.select(_url().alias("url"), "text")
    twin = d.select(
        F.format_string("t%08d", F.col("doc_id")).alias("url"),
        _drop3("text").alias("text"),
    )
    res = near_dedup_pipeline(base.unionByName(twin), persist=False)
    res.unpersist()  # lazy-safe: lineage recomputes the released caches
    return res.clusters


def q_minhash_twin_verdicts(spark, sf_dir):
    """Closed-form oracle for the full MinHash/LSH/CC pipeline: each doc gets
    a twin with ONE appended junk token, so the twin's shingle set is the
    doc's plus exactly one new shingle — exact Jaccard s/(s+1) >= 0.5 iff the
    doc has any k-shingle at all, i.e. iff it has >= shingle_k (5) tokens.
    Docs under 5 tokens hash their whole token sequence as one shingle, which
    the twin's differs from entirely (Jaccard 0).  Cluster co-membership of
    (doc, twin) is therefore SQL-decidable; planted near-dups in the driver
    tables only MERGE clusters and cannot split a co-membership."""
    from bigtrees_spark.plans.pipeline import near_dedup_pipeline

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.select(_url().alias("url"), "text")
    twin = d.select(
        F.format_string("t%08d", F.col("doc_id")).alias("url"),
        F.concat("text", F.lit(" zzqz")).alias("text"),
    )
    res = near_dedup_pipeline(base.unionByName(twin), persist=False)
    res.unpersist()  # lazy-safe: lineage recomputes the released caches
    c = res.clusters
    cb = c.where(F.col("url").startswith("d")).select(
        F.substring("url", 2, 8).alias("id"), F.col("cluster_id").alias("cb")
    )
    ct = c.where(F.col("url").startswith("t")).select(
        F.substring("url", 2, 8).alias("id"), F.col("cluster_id").alias("ct")
    )
    return cb.join(ct, "id").select(
        F.concat(F.lit("d"), F.col("id")).alias("url"),
        (F.col("cb") == F.col("ct")).alias("twin_joined"),
    )


def q_simhash_fingerprints(spark, sf_dir):
    """Per-doc 64-bit SimHash + token counts (rows-only: Charikar bit-voting
    over xxhash64 token hashes has no DuckDB equivalent; pinned known-answer
    vectors live in tests/test_kernels.py)."""
    from bigtrees_spark.operators.fingerprint import fingerprint_docs

    d = _docs(spark, sf_dir).select(_url().alias("url"), "text")
    return fingerprint_docs(d).select("url", "simhash", "n_tokens")


def q_winnow_counts(spark, sf_dir):
    """Winnowing fingerprint density per doc (rows-only: the rolling-hash
    window-minimum selection is not SQL-expressible; the winnowing guarantee
    itself is property-tested in tests/test_pipeline.py, and the end-to-end
    substring pass has the oracle-checked `substring_dups` query)."""
    from bigtrees_spark.operators.substring import winnow_table

    d = _docs(spark, sf_dir).select(_url().alias("url"), "text")
    return winnow_table(d).groupBy("url").agg(F.count("*").alias("n_fps"))


def q_bpe_twin_counts(spark, sf_dir):
    """Closed-form learned-BPE oracle (VERDICT r03 next-round #4): the merge
    table is corpus-dependent (not SQL-expressible), but two properties of
    the learned tokenizer ARE SQL-decidable without knowing the merges:
      * byte-identical twin docs tokenize identically — the count UDF is a
        pure function of (text, merges) and the merges ship in the closure,
        so any executor/batch nondeterminism flips twin_equal;
      * the count is bounded: every word ([a-z0-9]+ on lowercased text,
        pinned to functions/bpe.py WORD_RE) yields >= 1 token (lower bound
        n_words) and at most len(word)+1 tokens (all-singleton chars plus
        the </w> sentinel; upper bound n_word_chars + n_words).
    Moves the last rows-only operator with no closed-form sibling
    (bpe_token_count) to oracle-adjacent."""
    from bigtrees_spark.functions.bpe import fit_bpe, with_bpe_token_counts

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.select(_url().alias("url"), "text")
    twin = d.select(F.format_string("t%08d", F.col("doc_id")).alias("url"), "text")
    corpus = base.unionByName(twin)
    merges = fit_bpe(corpus, n_merges=200, sample_size=1000)
    counted = with_bpe_token_counts(corpus, merges)
    lower = F.lower(F.col("text"))
    cb = counted.where(F.col("url").startswith("d")).select(
        F.substring("url", 2, 8).alias("id"),
        F.col("n_tokens_bpe_learned").alias("nb"),
        F.size(F.regexp_extract_all(lower, F.lit("[a-z0-9]+"), 0)).alias("n_words"),
        F.length(F.regexp_replace(lower, "[^a-z0-9]", "")).alias("n_word_chars"),
    )
    ct = counted.where(F.col("url").startswith("t")).select(
        F.substring("url", 2, 8).alias("id"), F.col("n_tokens_bpe_learned").alias("nt")
    )
    return cb.join(ct, "id").select(
        F.concat(F.lit("d"), F.col("id")).alias("url"),
        (F.col("nb") == F.col("nt")).alias("twin_equal"),
        (F.col("nb") >= F.col("n_words")).alias("lower_ok"),
        (F.col("nb") <= F.col("n_word_chars") + F.col("n_words")).alias("upper_ok"),
    )


def q_repetition(spark, sf_dir):
    """Gopher-style intra-document repetition signals
    (operators/textstats.py::with_repetition): duplicate-line fraction,
    duplicate-word fraction, and the occurrence-count fraction of the most
    frequent word bigram.  Full semantics replicated in the SQL oracle
    (the synthetic documents are single-line, so dup_line_frac exercises the
    degenerate 0.0 case here; multi-line behavior is pytest-gated).
    exact_bigrams=True: the oracle groups by the raw bigram string, so this
    query keeps the bit-exact string key (fine at driver-corpus scale); the
    operator's default is the 8-byte xxhash64 key — the 100 TB shuffle diet —
    and tests/test_textstats.py pins that both modes agree."""
    from bigtrees_spark.operators.textstats import with_repetition

    d = _docs(spark, sf_dir).select("doc_id", "text")
    r = with_repetition(d, exact_bigrams=True)
    return r.select(
        _url().alias("url"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )


def q_line_dedup(spark, sf_dir):
    """Corpus-wide repeated-line removal (operators/linededup.py) — the
    CCNet-style boilerplate-dedup stage a Common-Crawl curation job runs
    below document granularity.  The synthetic documents are single-line, so
    the query constructs a deterministic multi-line corpus first: each doc
    gains an EXCERPT line shared with its pair partner (doc_id rounded down
    to even — cross-doc body duplication), a universal NAVBAR line, and one
    of five FOOTER-k lines.  The operator must remove every copy of each
    repeated line (plus any organically duplicated bodies) and keep unique
    bodies in order; the oracle replicates the construction and the full
    frequency/removal semantics in SQL."""
    from bigtrees_spark.operators.linededup import remove_repeated_segments

    d = _docs(spark, sf_dir).select("doc_id", "text")
    p = d.select(F.col("doc_id").alias("pid"), F.col("text").alias("ptext"))
    built = (
        d.withColumn("pid", F.col("doc_id") - F.col("doc_id") % 2)
        .join(p, "pid", "left")
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit("\nEXCERPT: "),
                F.coalesce(F.col("ptext"), F.lit("")),
                F.lit("\nNAVBAR\nFOOTER-"),
                (F.col("doc_id") % 5).cast("string"),
            ).alias("text"),
        )
    )
    return remove_repeated_segments(built).select(
        _url().alias("url"), "clean_text", "n_kept", "n_removed"
    )


def q_simhash_twins(spark, sf_dir):
    """Closed-form SimHash oracle (VERDICT r02 #4a): byte-identical twin docs
    MUST produce identical simhash fingerprints (the fingerprint is a pure
    function of the text), and n_tokens is SQL-derivable (tokenize is pinned
    to [a-z0-9]+ on lowercased text, kernels.py:30-33).  So this row moves
    the SimHash stage from trust-the-tests to an all-green oracle row: any
    nondeterminism across executors/batches, or a tokenizer drift, flips
    twin_same_simhash / n_tokens and fails the hash compare."""
    from bigtrees_spark.operators.fingerprint import fingerprint_docs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.select(_url().alias("url"), "text")
    twin = d.select(F.format_string("t%08d", F.col("doc_id")).alias("url"), "text")
    fp = fingerprint_docs(base.unionByName(twin))
    fb = fp.where(F.col("url").startswith("d")).select(
        F.substring("url", 2, 8).alias("id"),
        F.col("simhash").alias("sb"),
        "n_tokens",
    )
    ft = fp.where(F.col("url").startswith("t")).select(
        F.substring("url", 2, 8).alias("id"), F.col("simhash").alias("st")
    )
    return fb.join(ft, "id").select(
        F.concat(F.lit("d"), F.col("id")).alias("url"),
        "n_tokens",
        (F.col("sb") == F.col("st")).alias("twin_same_simhash"),
    )


def q_winnow_density(spark, sf_dir):
    """Closed-form winnowing density oracle (VERDICT r02 #4b): the SIGMOD'03
    guarantee bounds the selected-fingerprint count per doc as a pure function
    of its byte length (config.py:76-79: gram=64, window=193):
      * bytes in [gram, window+gram-1]: n_hashes <= window -> EXACTLY 1 fp
        (kernels.winnow_fingerprints short-window branch);
      * longer docs: every full window of `window` consecutive hash positions
        contains a selection and one position serves at most `window` windows,
        so n_fps >= ceil((n_hashes - window + 1) / window).
    The oracle says TRUE for every doc with >= gram bytes; any dropped
    fingerprint or off-by-one in the winnow kernel flips a row to FALSE."""
    from bigtrees_spark.config import DEFAULT_CONFIG as cfg
    from bigtrees_spark.operators.substring import winnow_table

    g, w = cfg.winnow_gram, cfg.winnow_window
    d = _docs(spark, sf_dir).select(
        _url().alias("url"), "text", F.octet_length("text").alias("nbytes")
    )
    counts = (
        winnow_table(d.select("url", "text"))
        .groupBy("url")
        .agg(F.count("*").alias("n_fps"))
    )
    n_hashes = F.col("nbytes") - F.lit(g) + F.lit(1)
    ok = F.when(n_hashes <= w, F.col("n_fps") == 1).otherwise(
        F.col("n_fps") >= F.ceil((n_hashes - F.lit(w) + F.lit(1)) / F.lit(w))
    )
    return (
        d.where(F.col("nbytes") >= g)
        .join(counts, "url", "left")
        .select("url", F.coalesce(ok, F.lit(False)).alias("density_ok"))
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing over documents' text bytes as a stand-in binary
    payload.  The metadata columns (n_bytes, content_sha256) are pure
    functions of the payload bytes, so this slice of the mapInPandas output
    is fully SQL-oracle-checked; the decode-stub columns live in the
    rows-only q_media_decode."""
    from bigtrees_spark.operators.multimodal import extract_media_features

    d = _docs(spark, sf_dir).select(
        _url().alias("url"), F.encode("text", "utf-8").alias("payload")
    )
    return extract_media_features(d).select(
        "url", F.col("n_bytes").cast("long").alias("n_bytes"), "content_sha256"
    )


def q_media_decode(spark, sf_dir):
    """Decode-dependent metadata (width/height from the deterministic fake
    decoder — rows-only: blake2b-derived, not SQL-expressible)."""
    from bigtrees_spark.operators.multimodal import extract_media_features

    d = _docs(spark, sf_dir).select(
        _url().alias("url"), F.encode("text", "utf-8").alias("payload")
    )
    return extract_media_features(d).select("url", "width", "height")


def q_media_resize(spark, sf_dir):
    """Resize plumbing (decode->resample->re-encode mapInPandas hot loop).
    The re-encoded payload is blake2b-keyed (rows-only), but the target dims
    and the non-empty payload contract are asserted here."""
    from bigtrees_spark.operators.multimodal import resize_images

    d = _docs(spark, sf_dir).select(
        _url().alias("url"), F.encode("text", "utf-8").alias("payload")
    )
    return resize_images(d, 32, 16).select(
        "url", "width", "height", F.octet_length("payload").alias("n_payload_bytes")
    )


def q_lsh_ann_pairs(spark, sf_dir):
    """Hyperplane-LSH embedding near-dup path (rows-only; exactness baseline
    is q_embedding_neardup)."""
    from bigtrees_spark.operators.similarity import lsh_neardup_pairs

    e = _emb(spark, sf_dir)
    return lsh_neardup_pairs(e, cosine_threshold=0.3, dim=64)


def q_prefix_dupes(spark, sf_dir):
    """Directory-level dupe analog: two url prefixes carrying identical
    content sets collide on their Merkle digest (sorted member digests)."""
    from bigtrees_spark.operators.dedup import prefix_dupe_groups

    d = _docs(spark, sf_dir).select("doc_id", "text")
    # mirror every doc under two prefixes, partitioned into per-16 sections:
    # sections k of /a and /b carry identical content sets -> one group each
    mk = lambda p: d.select(  # noqa: E731
        F.format_string(p, (F.col("doc_id") % 16), F.col("doc_id")).alias("url"), "text"
    ).select("url", F.length("text").alias("nbytes"), F.sha2("text", 256).alias("sha256"))
    corpus = mk("site/a%d/%08d").unionByName(mk("site/b%d/%08d"))
    return prefix_dupe_groups(corpus).select(
        "prefix_digest",
        "n_prefixes",
        "n_docs_each",
        "n_bytes_each",
        "savings",
        F.element_at("prefixes", 1).alias("first_prefix"),
    )


def q_simhash_edges(spark, sf_dir):
    """SimHash Hamming-radius near-dup pairs over documents ∪ truncated twins
    (rows-only: token hashing not SQL-expressible)."""
    from bigtrees_spark.operators.fingerprint import fingerprint_docs
    from bigtrees_spark.operators.lsh import simhash_edges

    d = _docs(spark, sf_dir)
    base = d.select(_url().alias("url"), "text")
    twin = d.select(
        F.format_string("t%08d", F.col("doc_id")).alias("url"),
        _drop3("text").alias("text"),
    )
    fp = fingerprint_docs(base.unionByName(twin))
    return simhash_edges(fp)


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (rows-only: probe-dependent approximation has no
    SQL oracle; recall vs brute force is gated in tests/test_similarity.py)."""
    from bigtrees_spark.operators.similarity import ivf_topk

    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return ivf_topk(e.where(F.col("vec_id") < 10), e, k=3, dim=64, n_centroids=16, n_probe=4)


def q_url_scope(spark, sf_dir):
    """URL canonicalization + scope filter (pathIsInTree analog,
    Build.hs:128-140).  Odd doc_ids get a MESSY url variant (uppercase
    scheme/host, www, :80, trailing slash, unsorted query); doc_id % 11 == 3
    rows get an INVALID url (embedded space — isValidName analog must drop
    them, Name.hs:149-153); canonicalization must collapse clean/messy to the
    same form, and the scope filter keeps exactly host site1 / path /sec2 —
    all closed-form in SQL."""
    from bigtrees_spark.operators.urls import (
        canonicalize_urls,
        scope_filter,
        valid_url,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    clean = F.format_string(
        "http://site%d.com/sec%d/d%08d?a=%d&b=%d",
        F.col("doc_id") % 7, F.col("doc_id") % 5, F.col("doc_id"),
        F.col("doc_id") % 3, F.col("doc_id") % 4,
    )
    messy = F.format_string(
        "HTTP://WWW.Site%d.COM:80/sec%d/d%08d/?b=%d&a=%d",
        F.col("doc_id") % 7, F.col("doc_id") % 5, F.col("doc_id"),
        F.col("doc_id") % 4, F.col("doc_id") % 3,
    )
    urls = d.select(
        F.when(F.col("doc_id") % 11 == 3, F.concat(clean, F.lit(" x")))
        .when(F.col("doc_id") % 2 == 0, clean)
        .otherwise(messy)
        .alias("url")
    )
    return scope_filter(canonicalize_urls(urls.where(valid_url("url"))),
                        "http://site1.com/sec2")


def q_ivf_twin_retrieval(spark, sf_dir):
    """Closed-form IVF oracle: plant an IDENTICAL twin (vec_id + 100000) for
    each of the first 200 vectors; a twin queried against the augmented
    corpus must retrieve its original at rank 1 — identical vectors land in
    the same inverted list under ANY quantizer (the centroid UDF is a pure
    function of the vector) and cosine(v, v) tops every non-identical
    neighbor.  Makes the probe/rank machinery oracle-checkable even though
    general IVF results are approximation-dependent (q_ivf_topk stays the
    rows-only general case)."""
    from bigtrees_spark.operators.similarity import ivf_topk

    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    twins = e.where(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(twins)
    got = ivf_topk(twins, corpus, k=1, dim=64, n_centroids=16, n_probe=2)
    return got.select(
        "query_id",
        (F.col("neighbor_id") == F.col("query_id") - 100000).alias("found_twin"),
    )


def q_lsh_ann_twins(spark, sf_dir):
    """Closed-form hyperplane-LSH oracle: identical twin vectors share EVERY
    band key (the signature is a pure function of the vector), so each
    planted (v, v+100000) pair must appear in the candidate set and survive
    the cosine>=0.999 verify; no non-identical pair in this corpus reaches
    0.999.  Output drops the float cosine (ids only) so the value-hash
    compare is exact."""
    from bigtrees_spark.operators.similarity import lsh_neardup_pairs

    e = _emb(spark, sf_dir).where(F.col("vec_id") < 200).select("vec_id", "embedding")
    twins = e.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    pairs = lsh_neardup_pairs(e.unionByName(twins), cosine_threshold=0.999, dim=64)
    return pairs.select("id_l", "id_r")


def q_embedding_clusters(spark, sf_dir):
    """Composite semantic-dedup oracle: hyperplane-LSH pairing -> connected
    components, end-to-end over embeddings ∪ identical twins.  An identical
    twin shares every band key, survives the 0.999 cosine verify
    (q_lsh_ann_twins proves the edge exists), and CC must therefore place
    (v, v+100000) in the same cluster with the MIN-id label — so cluster_id
    == vec_id for every twin pair is closed-form.  Checks the stage
    INTERACTION (edge schema fed to CC, label propagation), which the
    per-stage oracles can't see."""
    from bigtrees_spark.operators.cc import connected_components
    from bigtrees_spark.operators.similarity import lsh_neardup_pairs

    e = _emb(spark, sf_dir).where(F.col("vec_id") < 200).select("vec_id", "embedding")
    twins = e.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus = e.unionByName(twins)
    # CC's min-label is LEXICOGRAPHIC (urls are strings) — zero-pad the
    # numeric ids so string order == numeric order and min label == min id
    edges = lsh_neardup_pairs(corpus, cosine_threshold=0.999, dim=64).select(
        F.format_string("%09d", "id_l").alias("url_l"),
        F.format_string("%09d", "id_r").alias("url_r"),
    )
    labels = connected_components(edges)
    member = corpus.select(F.format_string("%09d", "vec_id").alias("url"))
    return (
        member.join(labels, "url", "left")
        .select(
            F.col("url").cast("long").alias("vec_id"),
            F.coalesce(F.col("cluster_id"), F.col("url")).cast("long").alias("cluster_id"),
        )
    )


def q_simhash_twin_edges(spark, sf_dir):
    """Closed-form SimHash EDGE oracle (beyond q_simhash_twins' fingerprint
    equality): byte-identical twin docs have Hamming distance 0, so the
    chunk-blocking + popcount verify must emit the (d_i, t_i) edge for every
    doc — the blocking can never miss a distance-0 pair because all four
    16-bit chunks collide.  Restricted to the planted twin pairs; edges
    among the corpus's own near-dups are real detections with no closed
    form (q_simhash_edges stays the rows-only general case)."""
    from bigtrees_spark.operators.fingerprint import fingerprint_docs
    from bigtrees_spark.operators.lsh import simhash_edges

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.select(_url().alias("url"), "text")
    twin = d.select(F.format_string("t%08d", F.col("doc_id")).alias("url"), "text")
    fp = fingerprint_docs(base.unionByName(twin))
    edges = simhash_edges(fp)
    twin_pair = (
        F.col("url_l").startswith("d")
        & F.col("url_r").startswith("t")
        & (F.substring("url_l", 2, 8) == F.substring("url_r", 2, 8))
    )
    return edges.where(twin_pair).select("url_l", "url_r", "hamming")


def q_corpus_curation(spark, sf_dir):
    """End-to-end training-data curation slice — the composite a 100 TB
    pretraining pipeline actually runs: quality gate -> exact-dup collapse
    (keep the min-url copy per content digest, the pipeline's rep rule) ->
    token accounting on the surviving canonical docs.  Every stage is a pure
    function of the text, so the whole composite is SQL-expressible and the
    oracle checks stage INTERACTIONS (e.g. dup collapse running after, not
    before, the quality gate), not just each operator alone."""
    from bigtrees_spark.operators.textstats import with_quality, with_token_counts

    c = _corpus_with_exact_dups(spark, sf_dir).select(
        _url().alias("url"), "text"
    )
    qual = with_quality(c).where("quality_ok").select("url", "text")
    canon_urls = qual.groupBy(F.sha2("text", 256).alias("sha256")).agg(
        F.min("url").alias("url")
    )
    canon = qual.join(canon_urls.select("url"), "url", "left_semi")
    return with_token_counts(canon).select("url", "n_words", "n_tokens_bpe")


def q_error_rows(spark, sf_dir):
    """Err-node semantics (reference HashTree/Build.hs:109-118: per-node
    failures become Err rows, never aborted scans).  Oversized html trips the
    max_html_bytes guard inside the extraction UDF and yields an error row;
    the guard is a pure function of the input bytes, so the ok/error split is
    fully SQL-checkable."""
    import dataclasses

    from bigtrees_spark.config import DEFAULT_CONFIG
    from bigtrees_spark.operators.fingerprint import fingerprint_docs

    pages = _docs(spark, sf_dir).select(
        _url().alias("url"),
        "lang",
        F.concat(F.lit("<body>"), F.col("text"), F.lit("</body>"))
        .cast("binary")
        .alias("html"),
    )
    # html = text + 13 wrapper bytes; guard at 413 => error iff text > 400 bytes
    cfg = dataclasses.replace(DEFAULT_CONFIG, max_html_bytes=413)
    fp = fingerprint_docs(pages, cfg, extract_from_html=True, compute_simhash=False)
    return fp.groupBy(
        "lang",
        F.when(F.col("error").isNull(), F.lit("ok")).otherwise(F.lit("error")).alias("status"),
    ).agg(F.count("*").alias("n_docs"))


def q_streaming_twin_edges(spark, sf_dir):
    """Closed-form oracle for the STREAMING near-dup operator
    (streaming/neardup.py): micro-batch 1 streams the base docs, the query
    stops, and micro-batch 2 streams byte-identical twins through a
    RESTARTED query on the same checkpoint.  Identical text => identical
    shingle set => identical hash in EVERY LSH band (empty shingle sets get
    a constant sentinel signature, kernels.py:107), and exact Jaccard 1.0 >=
    any threshold — so each twin MUST pair with its batch-1 original out of
    resumed bucket state, with no rescan of batch 1.  One edge
    (d_i, t_i, 1.0) per doc, SQL-decidable.  cap is set above the corpus
    size so keep-first retention never evicts an original.  Scratch dirs
    live under tempfile's tmpdir (the returned frame lazily reads the sink,
    so they are not deleted here)."""
    import tempfile

    from bigtrees_spark.streaming.neardup import (
        distinct_edges,
        start_neardup_stream,
    )

    work = tempfile.mkdtemp(prefix="bts_stream_twins_")
    src, ckpt, sink = (f"{work}/{d}" for d in ("src", "ckpt", "sink"))

    d = _docs(spark, sf_dir).select("doc_id", "text")

    def as_pages(frame, fmt):
        return frame.select(
            F.format_string(fmt, "doc_id").alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit(None).cast("string").alias("lang"),
        )

    for fmt in ("d%08d", "t%08d"):  # batch 1: originals; batch 2: twins
        as_pages(d, fmt).write.mode("append").parquet(src)
        q = start_neardup_stream(spark, src, ckpt, sink, cap=1_000_000)
        if not q.awaitTermination(300):  # never leave a zombie stream in the
            q.stop()  # shared driver session (availableNow: ~30s at this SF)

    expected = d.select(
        F.format_string("d%08d", "doc_id").alias("url"),
        F.format_string("t%08d", "doc_id").alias("turl"),
    )
    twin_edges = distinct_edges(spark, sink).select(
        F.col("url_l").alias("url"), F.col("url_r").alias("turl"), "jaccard"
    )
    return expected.join(twin_edges, ["url", "turl"], "left").select(
        "url",
        F.col("jaccard").isNotNull().alias("twin_edge"),
        F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
    )


def q_set_member(spark, sf_dir):
    """Set membership (J5/U4: setContainsHash vectorized over a table,
    reference HashSet.hs:341-342) — which docs' digests are in a planted
    hash set.  Left semi-join, strategy left to AQE (sets.py:67-71)."""
    from bigtrees_spark.operators.sets import hash_set_from_docs, member

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("nbytes"),
        F.sha2("text", 256).alias("sha256"),
    )
    s = hash_set_from_docs(d.where(F.col("doc_id") % 20 == 0), note="m")
    return member(d, s).select("doc_id")


def q_url_subtree(spark, sf_dir):
    """dropTo / treeContainsPath point-or-subtree lookup (P9, reference
    Search.hs:107-118) over slash-path urls derived from `source` — the url
    prefix predicate prunes at the scan (PushedFilters: StringStartsWith)."""
    from bigtrees_spark.operators.find import url_prefix_subtree

    d = _docs(spark, sf_dir).select(
        F.concat_ws("/", "source", _url()).alias("url"),
        F.sha2("text", 256).alias("sha256"),
        F.length("text").alias("nchars"),
    )
    return url_prefix_subtree(d, "src1").select("url", "sha256", "nchars")


def q_tree_contains(spark, sf_dir):
    """treeContainsHash point probes (P10, reference Search.hs:120-126):
    two digests that exist and one that cannot.  Each probe is the real
    operator (filter + limit(1) + count — a bounded point lookup, the one
    documented driver-side action here); results are assembled into a
    3-row frame for the oracle compare."""
    import hashlib

    from bigtrees_spark.operators.find import contains_hash

    d = _docs(spark, sf_dir).select("doc_id", F.sha2("text", 256).alias("sha256"))
    row0 = d.where(F.col("doc_id") == 0).select("sha256").first()
    row17 = d.where(F.col("doc_id") == 17).select("sha256").first()
    assert row0 is not None and row17 is not None, (
        f"tree_contains probe docs missing from {sf_dir}: "
        f"doc_id 0 {'present' if row0 else 'ABSENT'}, "
        f"doc_id 17 {'present' if row17 else 'ABSENT'}"
    )
    hit0, hit17 = row0[0], row17[0]
    miss = hashlib.sha256(b"no-such-doc").hexdigest()
    rows = [(name, contains_hash(d, dig)) for name, dig in
            [("doc0", hit0), ("doc17", hit17), ("absent", miss)]]
    return spark.createDataFrame(rows, "probe string, found boolean")


def q_normalized_diff(spark, sf_dir):
    """zeroModTime + renameRoot normalizers (P8, reference
    HashTree/Base.hs:33-37,175-181) driving a metadata-sensitive diff: the
    two snapshots differ in root prefix (old/ vs new/) and in every mod
    time (ts = epoch + doc_id vs + doc_id + 3600), and the per-row digest
    covers text+ts — so WITHOUT the normalizers every row would diff as
    Add+Rm (urls disjoint) or Edit (ts in the digest).  After rename_root
    -> root/ and zero_mod_time, only the planted doc_id%30 text edits
    remain."""
    from bigtrees_spark.operators.diff import snapshot_diff
    from bigtrees_spark.operators.find import rename_root, zero_mod_time

    d = _docs(spark, sf_dir)
    old = d.select(
        F.concat(F.lit("old/"), _url()).alias("url"),
        F.timestamp_seconds(F.col("doc_id")).alias("ts"),
        F.col("text"),
    )
    new = d.select(
        F.concat(F.lit("new/"), _url()).alias("url"),
        F.timestamp_seconds(F.col("doc_id") + 3600).alias("ts"),
        F.when(F.col("doc_id") % 30 == 0, F.concat(F.col("text"), F.lit(" edited")))
        .otherwise(F.col("text"))
        .alias("text"),
    )

    def normalize(snap, prefix):
        snap = zero_mod_time(rename_root(snap, prefix, "root/"), ts_col="ts")
        return snap.select(
            "url",
            F.sha2(F.concat(F.col("text"), F.col("ts").cast("string")), 256).alias("sha256"),
        )

    return snapshot_diff(normalize(old, "old/"), normalize(new, "new/")).select(
        "kind", "url", "url_new"
    )


def q_drop_payload(spark, sf_dir):
    """dropFileData projection (P7, reference HashTree/Base.hs:322-326):
    metadata survives, the binary payload column does not — the payload
    never reaches the result plan (column pruning removes it from the
    scan), which at 100 TB is the difference between shipping bytes and
    shipping rows."""
    from bigtrees_spark.operators.multimodal import drop_payload

    d = _docs(spark, sf_dir).select(
        _url().alias("url"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    with_meta = d.withColumn("nbytes", F.octet_length("payload").cast("long"))
    return drop_payload(with_meta).select("url", "nbytes")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dupes": q_exact_dupes,
        "dupes_report": q_dupes_report,
        "find_filter": q_find_filter,
        "find_exclude": q_find_exclude,
        "set_add": q_set_add,
        "snapshot_diff": q_snapshot_diff,
        "move_detect": q_move_detect,
        "digest_tree": q_digest_tree,
        "root_info": q_root_info,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_token_count,
        "bpe_twin_counts": q_bpe_twin_counts,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "ann_topk": q_ann_topk,
        "embedding_neardup": q_embedding_neardup,
        "ngram_jaccard": q_ngram_jaccard,
        "substring_dups": q_substring_dups,
        "line_dedup": q_line_dedup,
        "repetition": q_repetition,
        "minhash_lsh_clusters": q_minhash_lsh_clusters,
        "minhash_twin_verdicts": q_minhash_twin_verdicts,
        "simhash_fingerprints": q_simhash_fingerprints,
        "simhash_twins": q_simhash_twins,
        "winnow_counts": q_winnow_counts,
        "winnow_density": q_winnow_density,
        "media_features": q_media_features,
        "media_decode": q_media_decode,
        "media_resize": q_media_resize,
        "lsh_ann_pairs": q_lsh_ann_pairs,
        "prefix_dupes": q_prefix_dupes,
        "simhash_edges": q_simhash_edges,
        "ivf_topk": q_ivf_topk,
        "ivf_twin_retrieval": q_ivf_twin_retrieval,
        "lsh_ann_twins": q_lsh_ann_twins,
        "simhash_twin_edges": q_simhash_twin_edges,
        "embedding_clusters": q_embedding_clusters,
        "corpus_curation": q_corpus_curation,
        "streaming_twin_edges": q_streaming_twin_edges,
        "error_rows": q_error_rows,
        "url_scope": q_url_scope,
        "set_member": q_set_member,
        "url_subtree": q_url_subtree,
        "tree_contains": q_tree_contains,
        "normalized_diff": q_normalized_diff,
        "drop_payload": q_drop_payload,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_CORPUS_DUPS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dupes": f"""
WITH {_CORPUS_DUPS}
SELECT sha256(text) AS sha256,
       count(*) AS n_members,
       min(length(text)) AS n_bytes,
       (count(*) - 1) * min(length(text)) AS savings
FROM corpus GROUP BY 1 HAVING count(*) > 1
""",
        "dupes_report": f"""
WITH {_CORPUS_DUPS}
SELECT sha256(text) AS sha256,
       count(*) AS n_members,
       (count(*) - 1) * min(length(text)) AS savings,
       min(printf('d%08d', doc_id)) AS canonical
FROM corpus GROUP BY 1 HAVING count(*) > 1
""",
        "find_filter": """
SELECT doc_id, lang, n_chars AS nbytes,
       CASE WHEN regexp_matches(source, '(?i)(?:^src1[0-9]$)') THEN 'teen'
            WHEN regexp_matches(source, '(?i)(?:^src[0-3]$)') THEN 'low'
            ELSE NULL END AS label
FROM documents
WHERE n_chars BETWEEN 100 AND 400 AND lang IN ('en','de')
  AND label IS NOT NULL
""",
        "find_exclude": """
SELECT doc_id FROM documents
WHERE sha256(text) NOT IN (SELECT sha256(text) FROM documents WHERE doc_id % 20 = 0)
""",
        "set_add": """
WITH a AS (
  SELECT sha256(text) AS sha256, count(*) AS n_docs, sum(length(text))::BIGINT AS n_bytes,
         'a' AS note, 0 AS _ord
  FROM documents WHERE doc_id % 7 = 0 GROUP BY 1
), b AS (
  SELECT sha256(text) AS sha256, count(*) AS n_docs, sum(length(text))::BIGINT AS n_bytes,
         'b' AS note, 1 AS _ord
  FROM documents WHERE doc_id % 5 = 0 GROUP BY 1
), u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
SELECT sha256, max(n_docs) AS n_docs, max(n_bytes) AS n_bytes,
       arg_max(note, _ord) AS note
FROM u GROUP BY 1
""",
        "snapshot_diff": """
WITH old AS (
  SELECT printf('d%08d', doc_id) AS url, sha256(text) AS sha256
  FROM documents WHERE doc_id % 50 <> 0
), new AS (
  SELECT printf('d%08d', doc_id) AS url,
         sha256(CASE WHEN doc_id % 30 = 0 THEN text || ' edited' ELSE text END) AS sha256
  FROM documents WHERE doc_id % 40 <> 0
), j AS (
  SELECT coalesce(old.url, new.url) AS url, old.sha256 AS os, new.sha256 AS ns
  FROM old FULL OUTER JOIN new ON old.url = new.url
)
SELECT CASE WHEN os IS NULL THEN 'Add' WHEN ns IS NULL THEN 'Rm' ELSE 'Edit' END AS kind,
       url, NULL::VARCHAR AS url_new
FROM j WHERE os IS NULL OR ns IS NULL OR os <> ns
""",
        "move_detect": """
WITH old AS (
  SELECT printf('d%08d', doc_id) AS url, sha256(text) AS sha256 FROM documents
), new AS (
  SELECT CASE WHEN doc_id % 25 = 0 THEN printf('m%08d', doc_id)
              ELSE printf('d%08d', doc_id) END AS url,
         sha256(text) AS sha256
  FROM documents
), j AS (
  SELECT coalesce(old.url, new.url) AS url, old.sha256 AS os, new.sha256 AS ns
  FROM old FULL OUTER JOIN new ON old.url = new.url
), rm AS (
  SELECT url, os AS sha256 FROM j WHERE ns IS NULL
), ad AS (
  SELECT url, ns AS sha256 FROM j WHERE os IS NULL
), rm1 AS (  -- replicate operators/diff.py _match_moves: salted local ranks
  SELECT url, sha256,
         ascii(substr(md5(url),1,1))*256 + ascii(substr(md5(url),2,1)) AS s,
         row_number() OVER (
           PARTITION BY sha256, ascii(substr(md5(url),1,1))*256 + ascii(substr(md5(url),2,1))
           ORDER BY url) AS rnk
  FROM rm
), ad1 AS (
  SELECT url, sha256,
         ascii(substr(md5(url),1,1))*256 + ascii(substr(md5(url),2,1)) AS s,
         row_number() OVER (
           PARTITION BY sha256, ascii(substr(md5(url),1,1))*256 + ascii(substr(md5(url),2,1))
           ORDER BY url) AS rnk
  FROM ad
), p1 AS (
  SELECT rm1.url AS url, ad1.url AS url_new
  FROM rm1 JOIN ad1 ON rm1.sha256 = ad1.sha256 AND rm1.s = ad1.s AND rm1.rnk = ad1.rnk
), rml AS (
  SELECT * FROM rm1 r WHERE NOT EXISTS (
    SELECT 1 FROM ad1 a WHERE a.sha256 = r.sha256 AND a.s = r.s AND a.rnk = r.rnk)
), adl AS (
  SELECT * FROM ad1 a WHERE NOT EXISTS (
    SELECT 1 FROM rm1 r WHERE r.sha256 = a.sha256 AND r.s = a.s AND r.rnk = a.rnk)
), rm2 AS (
  SELECT url, sha256, row_number() OVER (PARTITION BY sha256 ORDER BY url) AS g FROM rml
), ad2 AS (
  SELECT url, sha256, row_number() OVER (PARTITION BY sha256 ORDER BY url) AS g FROM adl
), p2 AS (
  SELECT rm2.url AS url, ad2.url AS url_new
  FROM rm2 JOIN ad2 ON rm2.sha256 = ad2.sha256 AND rm2.g = ad2.g
), mv AS (
  SELECT url, url_new FROM p1 UNION ALL SELECT url, url_new FROM p2
)
SELECT 'Mv' AS kind, url, url_new FROM mv
UNION ALL
SELECT 'Rm', url, NULL FROM rm WHERE url NOT IN (SELECT url FROM mv)
UNION ALL
SELECT 'Add', url, NULL FROM ad WHERE url NOT IN (SELECT url_new FROM mv)
UNION ALL
SELECT 'Edit', url, NULL FROM j
WHERE os IS NOT NULL AND ns IS NOT NULL AND os <> ns
""",
        "digest_tree": """
SELECT (doc_id % 16)::INT AS bucket,
       sha256(string_agg(sha256(text), chr(10) ORDER BY sha256(text))) AS digest,
       count(*) AS n_docs,
       sum(length(text))::BIGINT AS n_bytes
FROM documents GROUP BY 1
""",
        "root_info": """
WITH l0 AS (
  SELECT (doc_id % 16)::INT AS bucket,
         sha256(string_agg(sha256(text), chr(10) ORDER BY sha256(text))) AS digest,
         count(*) AS n_docs, sum(length(text))::BIGINT AS n_bytes
  FROM documents GROUP BY 1
)
SELECT sha256(string_agg(digest, chr(10) ORDER BY digest)) AS root_digest,
       sum(n_docs)::BIGINT AS total_docs, sum(n_bytes)::BIGINT AS total_bytes
FROM l0
""",
        # regex whitespace strip (not trim: trim strips ASCII spaces only)
        # mirrors textstats._wstrip exactly
        "token_count": r"""
WITH s AS (
  SELECT doc_id, text, regexp_replace(text, '^\s+|\s+$', '', 'g') AS st
  FROM documents
)
SELECT doc_id,
       CASE WHEN st = '' THEN 0
            ELSE len(regexp_split_to_array(st, '\s+')) END AS n_words,
       CASE WHEN st = '' THEN 0
            ELSE len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]+|[^\sA-Za-z0-9]')) END
            AS n_tokens_bpe
FROM s
""",
        "quality": r"""
WITH s AS (
  SELECT doc_id, text, regexp_replace(text, '^\s+|\s+$', '', 'g') AS st
  FROM documents
), q AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN st = '' THEN 0
              ELSE len(regexp_split_to_array(st, '\s+')) END AS n_words,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         len(regexp_extract_all(text,
             '(?i)\b(?:the|and|of|to|in|is|that|it|was|for)\b')) AS stopword_hits
  FROM s
)
SELECT doc_id, n_chars,
       round(n_chars::DOUBLE / greatest(n_words, 1), 6) AS mean_word_len,
       round(punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
       round(digits::DOUBLE / greatest(n_chars, 1), 6) AS digit_ratio,
       stopword_hits,
       (n_chars >= 10
        AND n_chars::DOUBLE / greatest(n_words, 1) >= 2.0
        AND n_chars::DOUBLE / greatest(n_words, 1) <= 12.0
        AND digits::DOUBLE / greatest(n_chars, 1) <= 0.3)::INT AS quality_ok
FROM q
""",
        "lang_id": r"""
WITH h AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '(?i)\b(?:the|and|of|to|in|is|that|it|was|for)\b')) AS hits_en,
    len(regexp_extract_all(text, '(?i)\b(?:der|die|das|und|ist|nicht|ein|mit|auf|zu)\b')) AS hits_de,
    len(regexp_extract_all(text, '(?i)\b(?:el|la|de|que|y|en|un|por|con|para)\b')) AS hits_es,
    len(regexp_extract_all(text, '(?i)\b(?:le|la|les|de|et|un|une|est|que|pour)\b')) AS hits_fr
  FROM documents
)
SELECT doc_id,
  -- tie rule must match the Spark cascade exactly: on equal hit counts the
  -- alphabetically-smaller language wins (de < en < es < fr), i.e. a
  -- language needs STRICT > only against languages that sort before it
  CASE
    WHEN hits_de > 0 AND hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
    WHEN hits_en > 0 AND hits_en > hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
    WHEN hits_es > 0 AND hits_es > hits_de AND hits_es > hits_en AND hits_es >= hits_fr THEN 'es'
    WHEN hits_fr > 0 AND hits_fr > hits_de AND hits_fr > hits_en AND hits_fr > hits_es THEN 'fr'
    ELSE 'und' END AS lang_guess
FROM h
""",
        "ann_topk": """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
  FROM q CROSS JOIN c WHERE neighbor_id <> query_id
), r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s
)
SELECT query_id, neighbor_id, round(cos, 5) AS cosine, rank::INT AS rank
FROM r WHERE rank <= 3
""",
        "embedding_neardup": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300)
SELECT l.vec_id AS id_l, r.vec_id AS id_r,
       round(list_cosine_similarity(l.v, r.v), 5) AS cosine
FROM e l JOIN e r ON l.vec_id < r.vec_id
WHERE list_cosine_similarity(l.v, r.v) >= 0.25
""",
        "ngram_jaccard": r"""
WITH corpus AS (
  SELECT printf('d%08d', doc_id) AS url, lower(text) AS text FROM documents
  UNION ALL
  SELECT printf('t%08d', doc_id) AS url,
         lower(regexp_replace(text, '(\s+\S+){3}$', '')) AS text
  FROM documents
), toks AS (
  SELECT url, string_split_regex(trim(text), '[^a-z0-9]+') AS t FROM corpus
), pos AS (
  SELECT url, t, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS p FROM toks
), sh AS (
  SELECT DISTINCT url, array_to_string(t[p:p+4], ' ') AS s FROM pos
), sizes AS (
  SELECT url, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.url AS url_l, b.url AS url_r, count(*) AS i
  FROM sh a JOIN sh b USING (s)
  WHERE a.url < b.url
  GROUP BY 1, 2
)
SELECT url_l, url_r,
       round(i::DOUBLE / (sl.n + sr.n - i), 6) AS jaccard
FROM inter
JOIN sizes sl ON sl.url = url_l
JOIN sizes sr ON sr.url = url_r
WHERE i::DOUBLE / (sl.n + sr.n - i) >= 0.5
""",
        "prefix_dupes": """
WITH corpus AS (
  SELECT printf('site/a%d/%08d', doc_id % 16, doc_id) AS url, text FROM documents
  UNION ALL
  SELECT printf('site/b%d/%08d', doc_id % 16, doc_id) AS url, text FROM documents
), per_prefix AS (
  SELECT regexp_extract(url, '^(.*)/[^/]*$', 1) AS prefix,
         sha256(string_agg(sha256(text), chr(10) ORDER BY sha256(text))) AS prefix_digest,
         count(*) AS n_docs, sum(length(text))::BIGINT AS n_bytes
  FROM corpus GROUP BY 1
)
SELECT prefix_digest,
       count(*) AS n_prefixes,
       min(n_docs) AS n_docs_each,
       min(n_bytes) AS n_bytes_each,
       ((count(*) - 1) * min(n_bytes))::BIGINT AS savings,
       min(prefix) AS first_prefix
FROM per_prefix GROUP BY 1 HAVING count(*) > 1
""",
        "media_features": """
SELECT printf('d%08d', doc_id) AS url,
       strlen(text)::BIGINT AS n_bytes,
       sha256(text) AS content_sha256
FROM documents
""",
        # resize contract: one row per doc, target dims, and the re-encoded
        # payload size — 32-byte blake2b key x (32*16)//32 repeats = 512 —
        # are all deterministic functions of the (w=32, h=16) config
        "media_resize": """
SELECT printf('d%08d', doc_id) AS url,
       32 AS width, 16 AS height, 512 AS n_payload_bytes
FROM documents
""",
        "minhash_twin_verdicts": """
SELECT printf('d%08d', doc_id) AS url,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 5 AS twin_joined
FROM documents
""",
        # byte-identical twins share every LSH band and verify at exactly
        # Jaccard 1.0, so the streaming operator must emit one (d_i, t_i, 1.0)
        # edge per doc out of restart-resumed bucket state (see
        # q_streaming_twin_edges docstring for the derivation)
        "streaming_twin_edges": """
SELECT printf('d%08d', doc_id) AS url,
       TRUE AS twin_edge, 1.0 AS jaccard
FROM documents
""",
        "repetition": """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), w AS (
  SELECT doc_id,
         string_split(t, chr(10)) AS lines,
         CASE WHEN regexp_replace(t, '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(
                     regexp_replace(t, '^\\s+|\\s+$', '', 'g'), '\\s+') END AS ws
  FROM base
), bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
  FROM w, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
), bt AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c) AS tb FROM (
    SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
  ) GROUP BY doc_id
)
SELECT printf('d%08d', doc_id) AS url,
  round((len(lines) - len(list_distinct(lines)))::DOUBLE
        / greatest(len(lines), 1), 6) AS dup_line_frac,
  round(CASE WHEN len(ws) = 0 THEN 0.0
             ELSE (len(ws) - len(list_distinct(ws)))::DOUBLE / len(ws) END,
        6) AS dup_word_frac,
  round(coalesce(tb, 0.0), 6) AS top_bigram_frac
FROM w LEFT JOIN bt USING (doc_id)
""",
        # full generic semantics in SQL: replicate the multi-line
        # construction, then frequency-count and strip repeated lines
        "line_dedup": """
WITH built AS (
  SELECT d.doc_id,
         d.text || chr(10) || 'EXCERPT: ' || coalesce(p.text, '')
                || chr(10) || 'NAVBAR' || chr(10) || 'FOOTER-' || (d.doc_id % 5)
         AS text
  FROM documents d
  LEFT JOIN documents p ON p.doc_id = d.doc_id - d.doc_id % 2
),
seg AS (
  SELECT doc_id, generate_subscripts(string_split(text, chr(10)), 1) AS pos,
         unnest(string_split(text, chr(10))) AS seg
  FROM built
),
freq AS (SELECT seg, count(*) AS c FROM seg GROUP BY seg)
SELECT printf('d%08d', doc_id) AS url,
       coalesce(string_agg(seg, chr(10) ORDER BY pos) FILTER (WHERE c < 2), '')
         AS clean_text,
       count(*) FILTER (WHERE c < 2) AS n_kept,
       count(*) FILTER (WHERE c >= 2) AS n_removed
FROM seg JOIN freq USING (seg)
GROUP BY doc_id
""",
        "simhash_twins": """
SELECT printf('d%08d', doc_id) AS url,
       len(regexp_extract_all(lower(text), '[a-z0-9]+'))::INT AS n_tokens,
       TRUE AS twin_same_simhash
FROM documents
""",
        # twin-equality and the word/char bounds hold for ANY merge table, so
        # the oracle is closed-form even though the merges aren't (see
        # q_bpe_twin_counts docstring for the derivation)
        "bpe_twin_counts": """
SELECT printf('d%08d', doc_id) AS url,
       TRUE AS twin_equal, TRUE AS lower_ok, TRUE AS upper_ok
FROM documents
""",
        "winnow_density": """
SELECT printf('d%08d', doc_id) AS url, TRUE AS density_ok
FROM documents WHERE strlen(text) >= 64
""",
        "url_scope": """
SELECT printf('http://site%d.com/sec%d/d%08d?a=%d&b=%d',
              doc_id % 7, doc_id % 5, doc_id, doc_id % 3, doc_id % 4) AS url
FROM documents
WHERE doc_id % 7 = 1 AND doc_id % 5 = 2 AND doc_id % 11 <> 3
""",
        "ivf_twin_retrieval": """
SELECT vec_id + 100000 AS query_id, TRUE AS found_twin
FROM embeddings WHERE vec_id < 200
""",
        "lsh_ann_twins": """
SELECT vec_id AS id_l, vec_id + 100000 AS id_r
FROM embeddings WHERE vec_id < 200
""",
        "simhash_twin_edges": """
SELECT printf('d%08d', doc_id) AS url_l,
       printf('t%08d', doc_id) AS url_r,
       0 AS hamming
FROM documents
""",
        # components are exactly the planted (v, v+100000) twin pairs
        # (q_lsh_ann_twins pins the edge set), so min-id labels are v
        "embedding_clusters": """
SELECT vec_id, vec_id AS cluster_id FROM embeddings WHERE vec_id < 200
UNION ALL
SELECT vec_id + 100000 AS vec_id, vec_id AS cluster_id
FROM embeddings WHERE vec_id < 200
""",
        "corpus_curation": f"""
WITH {_CORPUS_DUPS},
u AS (SELECT printf('d%08d', doc_id) AS url, text,
             regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS st
      FROM corpus),
q AS (
  SELECT url, text, st,
         length(text) AS n_chars,
         CASE WHEN st = '' THEN 0
              ELSE len(regexp_split_to_array(st, '\\s+')) END AS n_words,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
  FROM u
), ok AS (
  -- st / n_words ride through so the final projection reuses them: the
  -- whitespace-strip pattern (= textstats._wstrip) is stated ONCE, in u
  SELECT url, text, st, n_words FROM q
  WHERE n_chars >= 10
    AND n_chars::DOUBLE / greatest(n_words, 1) BETWEEN 2.0 AND 12.0
    AND digits::DOUBLE / greatest(n_chars, 1) <= 0.3
), canon AS (
  SELECT min(url) AS url FROM ok GROUP BY sha256(text)
)
SELECT ok.url,
       ok.n_words,
       CASE WHEN ok.st = '' THEN 0
            ELSE len(regexp_extract_all(ok.text,
                 '[A-Za-z]{{1,4}}|[0-9]+|[^\\sA-Za-z0-9]')) END AS n_tokens_bpe
FROM ok JOIN canon ON ok.url = canon.url
""",
        "error_rows": """
SELECT lang,
       CASE WHEN strlen(text) + 13 > 413 THEN 'error' ELSE 'ok' END AS status,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2
""",
        "substring_dups": """
WITH chained AS (
  SELECT doc_id, text, lead(text) OVER (ORDER BY doc_id) AS next_text
  FROM documents
)
SELECT printf('d%08d', a.doc_id) AS url_l,
       printf('d%08d', b.doc_id) AS url_r,
       length(a.next_text) AS match_len
FROM chained a JOIN chained b ON b.doc_id = a.doc_id + 1
WHERE a.next_text IS NOT NULL AND b.next_text IS NOT NULL
  AND length(a.next_text) >= 256
""",
        "set_member": """
SELECT doc_id FROM documents
WHERE sha256(text) IN (SELECT sha256(text) FROM documents WHERE doc_id % 20 = 0)
""",
        "url_subtree": """
SELECT source || '/' || printf('d%08d', doc_id) AS url,
       sha256(text) AS sha256,
       length(text) AS nchars
FROM documents
WHERE source || '/' || printf('d%08d', doc_id) LIKE 'src1%'
""",
        "tree_contains": """
WITH probes AS (
  SELECT 'doc0' AS probe, (SELECT sha256(text) FROM documents WHERE doc_id = 0) AS d
  UNION ALL
  SELECT 'doc17', (SELECT sha256(text) FROM documents WHERE doc_id = 17)
  UNION ALL
  SELECT 'absent', sha256('no-such-doc')
)
SELECT probe, EXISTS (SELECT 1 FROM documents WHERE sha256(text) = probes.d) AS found
FROM probes
""",
        "normalized_diff": """
WITH old AS (
  SELECT 'root/' || printf('d%08d', doc_id) AS url,
         sha256(text || '1970-01-01 00:00:00') AS sha256
  FROM documents
), new AS (
  SELECT 'root/' || printf('d%08d', doc_id) AS url,
         sha256((CASE WHEN doc_id % 30 = 0 THEN text || ' edited' ELSE text END)
                || '1970-01-01 00:00:00') AS sha256
  FROM documents
), j AS (
  SELECT coalesce(old.url, new.url) AS url, old.sha256 AS os, new.sha256 AS ns
  FROM old FULL OUTER JOIN new ON old.url = new.url
)
SELECT CASE WHEN os IS NULL THEN 'Add' WHEN ns IS NULL THEN 'Rm' ELSE 'Edit' END AS kind,
       url, NULL::VARCHAR AS url_new
FROM j WHERE os IS NULL OR ns IS NULL OR os <> ns
""",
        "drop_payload": """
SELECT printf('d%08d', doc_id) AS url,
       octet_length(encode(text)) AS nbytes
FROM documents
""",
    }
