"""End-to-end gates: recall >= 0.99 vs the brute-force oracle, idempotence,
permutation invariance, exact-dup semantics, substring pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigtrees_spark import oracle
from bigtrees_spark.config import DEFAULT_CONFIG as CFG
from bigtrees_spark.operators import dedup
from bigtrees_spark.operators.fingerprint import fingerprint_docs
from bigtrees_spark.operators.substring import substring_edges
from bigtrees_spark.plans.pipeline import cluster_implied_pairs, near_dedup_pipeline


@pytest.fixture(scope="module")
def result(pages):
    return near_dedup_pipeline(pages)


@pytest.fixture(scope="module")
def found_pairs(result):
    return {(r.url_l, r.url_r) for r in cluster_implied_pairs(result.clusters).collect()}


def test_recall_gate(found_pairs, corpus):
    """THE gate: dup-pair recall >= 0.99 vs oracle (BASELINE.json)."""
    truth = oracle.near_pairs(corpus.pages, CFG)
    assert truth, "fixture must plant pairs"
    assert oracle.recall(found_pairs, truth) >= 0.99


def test_planted_groups_coclustered(result, corpus):
    """Every planted exact/near group lands in one cluster."""
    labels = {r.url: r.cluster_id for r in result.clusters.collect()}
    for gid, grp in corpus.groups.groupby("group_id"):
        if grp.kind.iloc[0] == "substring":
            continue  # below-threshold by construction; separate pass
        cids = {labels[u] for u in grp.url}
        assert len(cids) == 1, f"group {gid} split: {cids}"


def test_clusters_cover_all_urls(result, corpus):
    assert result.clusters.count() == len(corpus.pages)
    assert result.clusters.select("url").distinct().count() == len(corpus.pages)


def test_cluster_id_is_min_url(result):
    bad = (
        result.clusters.groupBy("cluster_id")
        .agg(F.min("url").alias("mu"))
        .where(F.col("cluster_id") != F.col("mu"))
        .count()
    )
    assert bad == 0


def test_permutation_invariance(spark, pages, result):
    """Row order / partitioning must not change cluster assignments
    (SURVEY.md §5 property: determinism under parallelism)."""
    shuffled = pages.repartition(7, "lang").sortWithinPartitions(F.desc("url"))
    res2 = near_dedup_pipeline(shuffled)
    a = {(r.url, r.cluster_id) for r in result.clusters.collect()}
    b = {(r.url, r.cluster_id) for r in res2.clusters.collect()}
    assert a == b


def test_exact_dupes_match_oracle(pages, corpus):
    fp = fingerprint_docs(pages)
    groups = dedup.exact_dupe_groups(fp).collect()
    truth = oracle.exact_pairs(corpus.pages)
    got = set()
    for g in groups:
        ms = sorted(g.members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                got.add((ms[i], ms[j]))
    assert got == truth
    for g in groups:  # scoreSets semantics: singletons dropped, savings=(n-1)*bytes
        assert g.n_members > 1
        assert g.savings == (g.n_members - 1) * g.n_bytes


def test_dupes_report_ordering(pages):
    fp = fingerprint_docs(pages)
    rep = dedup.dupes_report(fp).collect()
    savings = [r.savings for r in rep]
    assert savings == sorted(savings, reverse=True)


def test_substring_pass_finds_planted(pages, corpus):
    """Planted >=512-byte excerpt pairs are found by the winnowing pass."""
    edges = {
        (r.url_l, r.url_r)
        for r in substring_edges(pages.select("url", "text")).collect()
    }
    sub = corpus.groups[corpus.groups.kind == "substring"]
    assert len(sub) > 0
    for gid, grp in sub.groupby("group_id"):
        urls = sorted(grp.url)
        pair = (urls[0], urls[1])
        assert pair in edges, f"substring pair missed: {pair}"


def test_substring_pass_no_spurious_cross_unique_edges(spark):
    """Unrelated random docs produce no substring edges."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (f"u{i}", " ".join(f"q{rng.integers(0, 10**9)}" for _ in range(200)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    assert substring_edges(df).count() == 0


def test_idempotence(pages, result):
    """Running the pipeline again over the same input yields identical
    clusters (reference todo DupeMap.hs:207-209 made a hard guarantee)."""
    res2 = near_dedup_pipeline(pages)
    a = {(r.url, r.cluster_id) for r in result.clusters.collect()}
    b = {(r.url, r.cluster_id) for r in res2.clusters.collect()}
    assert a == b


def test_golden_clusters(result):
    """Committed golden (FIXTURES.md T5): cluster assignments for the 250-doc
    seed-42 fixture, generated once from the brute-force oracle.  Regresses
    BOTH the fixture generator and the pipeline (reference golden tarball
    pattern, app/Cmd/Hash.hs:60-77)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "golden_clusters_250_seed42.json")
    with open(path) as f:
        golden = json.load(f)
    got = {r.url: r.cluster_id for r in result.clusters.collect()}
    assert got == golden


def test_canonical_docs_one_row_per_digest_with_identity_ties(spark):
    """Fully duplicated identity rows (same sha256 AND warc_ts AND url —
    common in re-crawled WARC dumps) must still collapse to exactly ONE
    canonical row per digest; the skinny-window + semi-join rewrite would
    otherwise return every tied row (ADVICE r02)."""
    import datetime

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("u/a", ts, "h1", 10),
        ("u/a", ts, "h1", 10),          # full-identity duplicate row
        ("u/b", ts, "h1", 10),          # later url, same digest: loses
        ("u/c", ts, "h2", 5),
        ("u/c", ts, "h2", 5),           # another identity-tied group
        ("u/c", ts, "h2", 5),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, sha256 string, nbytes long")
    got = dedup.canonical_docs(df).collect()
    assert len(got) == 2
    by_digest = {r.sha256: r.url for r in got}
    assert by_digest == {"h1": "u/a", "h2": "u/c"}

    # no-order-column path keeps the same contract
    got2 = dedup.canonical_docs(df.drop("warc_ts").drop("url").withColumn("x", F.lit(1)))
    assert got2.count() == 2


def test_report_bounded_members_on_mega_cluster(spark):
    """A planted 10k-member exact-dup cluster must complete with a BOUNDED
    members preview (REPORT_MEMBERS_CAP) while n_members stays exact — the
    mega-cluster finalization must not funnel the whole membership into one
    window partition or one unbounded output array (VERDICT r02 #2)."""
    import datetime

    from bigtrees_spark.plans.pipeline import REPORT_MEMBERS_CAP

    ts = datetime.datetime(2025, 1, 1)
    n = 10_000
    rows = [
        (f"mega/{i:05d}", ts, None, "identical boilerplate body text", "en")
        for i in range(n)
    ]
    pages_big = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    res = near_dedup_pipeline(pages_big, persist=False)
    rep = res.report.collect()
    assert len(rep) == 1
    r = rep[0]
    assert r.n_members == n                      # exact count survives the cap
    assert len(r.members) == REPORT_MEMBERS_CAP  # preview bounded
    assert r.members == sorted(r.members)
    assert r.members[0] == "mega/00000"
    assert r.cluster_id == "mega/00000"
    assert r.savings == r.n_bytes_total - r.n_bytes_kept
    # every member carries the min-url cluster label
    assert res.clusters.where(F.col("cluster_id") != "mega/00000").count() == 0


def test_pipeline_from_html_matches_text_path(spark, pages, result):
    """input_hint real-input path: pipeline fed ONLY html bytes (text derived
    by the pinned extractor) yields identical clusters to the text-column
    path — because extract_text(html) == text byte-for-byte on the fixture."""
    html_only = pages.drop("text")
    res_html = near_dedup_pipeline(html_only, extract_from_html=True)
    a = {(r.url, r.cluster_id) for r in result.clusters.collect()}
    b = {(r.url, r.cluster_id) for r in res_html.clusters.collect()}
    assert a == b


def test_substring_sliced_verify_exact_lengths(spark):
    """Sliced verify exactness (VERDICT r04 item #1): match_len is byte-exact
    both for short shared regions (resolved inside the pos±W slices, no
    full-text fallback possible) and for regions far longer than the slice
    window (slice_len = 2W+gram = 1088 bytes at default config), which can
    ONLY be exact if the saturated-pair full-text re-extend ran.  The long
    region includes multibyte UTF-8 to pin byte (not char) positioning."""
    import numpy as np

    from bigtrees_spark.operators.substring import (
        EXTEND_WINDOW_MULT,
        substring_edges,
    )
    from bigtrees_spark.config import DEFAULT_CONFIG as CFG

    rng = np.random.default_rng(3)

    def junk(n, tag):
        # tag-prefixed tokens: flanks of different docs differ at the first
        # byte adjacent to the shared region, so no accidental extension
        return " ".join(f"{tag}{rng.integers(0, 10**9)}" for _ in range(n))

    short = ("s" + " ".join(f"s{i}" for i in range(90)))[:300]  # 300 bytes
    assert len(short.encode()) >= CFG.substring_min_len
    long_s = "déjà-" + " ".join(f"l{i}" for i in range(900))    # ~6 KB, multibyte
    slice_len = 2 * EXTEND_WINDOW_MULT * CFG.substring_min_len + CFG.winnow_gram
    assert len(long_s.encode()) > 4 * slice_len

    rows = [
        ("a1", junk(80, "p") + "|" + short + "|" + junk(80, "p")),
        ("a2", junk(80, "q") + "|" + short + "|" + junk(80, "q")),
        ("b1", junk(80, "u") + "|" + long_s + "|" + junk(80, "u")),
        ("b2", junk(80, "w") + "|" + long_s + "|" + junk(80, "w")),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {(r.url_l, r.url_r): r.match_len for r in substring_edges(df).collect()}
    # '|' delimiters are shared across all four docs, so the true common
    # substring is '|' + S + '|' (junk tokens differ on both flanks)
    assert got[("a1", "a2")] == len(short.encode()) + 2
    assert got[("b1", "b2")] == len(long_s.encode()) + 2
    assert ("a1", "b1") not in got and ("a1", "b2") not in got


def test_substring_mixed_corpus_rare_long_docs(spark):
    """Per-document verify routing (VERDICT r04 what's-wrong #3): a corpus of
    9,990 short docs with 10 rare long docs appended at the END — beyond any
    arrival-order probe window — must still verify the long docs' shared
    excerpts byte-exactly, and must do so through BOUNDED slices (the plan
    projects conditional substring(tb, ...) slices on the pair path; routing
    is per-row octet_length, so no sampled corpus probe exists to misroute)."""
    import numpy as np

    from bigtrees_spark.config import DEFAULT_CONFIG as CFG
    from bigtrees_spark.operators.substring import EXTEND_WINDOW_MULT, substring_edges

    rng = np.random.default_rng(17)

    def junk(n, tag):
        return " ".join(f"{tag}{rng.integers(0, 10**9)}" for _ in range(n))

    slice_len = 2 * EXTEND_WINDOW_MULT * CFG.substring_min_len + CFG.winnow_gram
    rows = [(f"s{i:05d}", junk(40, f"x{i}_")) for i in range(9_990)]
    # 10 long docs = 5 pairs, each sharing a distinct excerpt far longer than
    # one slice window (forces saturation + the once-per-pair full re-extend)
    expected = {}
    for p in range(5):
        excerpt = " ".join(f"e{p}_{k}" for k in range(600))  # ~4.5 KB
        assert len(excerpt.encode()) > 3 * slice_len
        for side in ("a", "b"):
            # side marker chars abut the pipes, so the shared region is
            # EXACTLY '|' + excerpt + '|' (extension stops deterministically)
            rows.append(
                (f"zlong{p}{side}", junk(300, f"f{p}{side}") + side + "|" + excerpt
                 + "|" + side + junk(300, f"g{p}{side}"))
            )
        expected[(f"zlong{p}a", f"zlong{p}b")] = len(excerpt.encode()) + 2
    df = spark.createDataFrame(rows, "url string, text string")
    got = {(r.url_l, r.url_r): r.match_len for r in substring_edges(df).collect()}
    for pair, mlen in expected.items():
        assert got.get(pair) == mlen, f"{pair}: got {got.get(pair)}, want {mlen}"
    # no short doc may pair with a long one (flanks and shorts are unique)
    assert all(k in expected for k in got), f"spurious edges: {set(got) - set(expected)}"


def test_pipeline_cache_footprint_released(spark, cache_state):
    """Looped-pipeline cache hygiene (VERDICT r04 next #2 / ADVICE r04): every
    cache and checkpoint a run creates — docs_fp, winners, AND the
    operators' internal materialization points (substring per-pair, CC
    pre-contraction) — must be released when the run's RunScope closes, so a
    long-lived driver looping over pipelines returns to an empty Dataset
    cache and no persistent RDDs."""
    from bigtrees_spark.operators.substring import substring_edges
    from bigtrees_spark.plans.runmeta import RunScope

    rows = [
        ("u:%03d" % i, ("the quick brown fox %d jumps over the lazy dog " % (i // 2)) * 4)
        for i in range(60)
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    for _ in range(2):
        with RunScope(spark, "pipeline") as rs:
            extra = substring_edges(pages.select("url", "text"), rs=rs)
            res = near_dedup_pipeline(
                pages, use_simhash_edges=True, extra_edges=extra, rs=rs
            )
            res.clusters.count()
            res.report.count()
        assert cache_state() == (True, 0), "pipeline run leaked caches"


def test_unscoped_substring_edges_caches_nothing(spark, cache_state):
    """Without a scope the per-pair cache serves only the operator's own
    branch count and is released before return."""
    df = spark.createDataFrame(
        [("u:a", "shared " * 60 + "tail a"), ("u:b", "shared " * 60 + "tail b")],
        "url string, text string",
    )
    edges = substring_edges(df)
    assert cache_state() == (True, 0)
    assert {(r.url_l, r.url_r) for r in edges.collect()} == {("u:a", "u:b")}


def test_extra_edges_endpoints_map_to_reps(spark):
    """extra_edges (e.g. substring_edges) run on the SOURCE and may name
    MEMBER urls; the pipeline must map endpoints to their exact-dup group's
    representative before CC, or the edge silently fails to co-cluster
    (labels are looked up for reps only)."""
    rows = [
        ("u:a", "the quick brown fox jumps over the lazy dog " * 5),
        ("u:b", "the quick brown fox jumps over the lazy dog " * 5),  # exact dup of a
        ("u:c", "completely different words about maritime navigation charts " * 5),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    # edge names the NON-rep member u:b (rep is min-url u:a)
    extra = spark.createDataFrame([("u:b", "u:c")], "url_l string, url_r string")
    res = near_dedup_pipeline(pages, extra_edges=extra, persist=False)
    labels = {r.url: r.cluster_id for r in res.clusters.collect()}
    assert labels["u:a"] == labels["u:b"] == labels["u:c"]
    # stable edge schema: jaccard present (null on the extra-edge row)
    assert set(res.edges.columns) == {"url_l", "url_r", "jaccard"}


def test_bench_legs_release_their_caches(spark):
    """Bench honesty: the bench legs share one session, and Spark's
    CacheManager matches by analyzed-plan equality — so any cache a query
    leg leaks is silently REUSED by the next leg's identical plan, and the
    min-of-k understates the per-run cost (the class the round-5 near_dedup
    correction documented).  Every bench query must leave the Dataset cache
    empty; exercised at sf0.001 against the real bench entry points."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod_cache", os.path.join(repo, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip("no sf0.001 test data")
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    for name, fn in bench.QUERIES.items():
        fn(spark, sf_dir)
        assert cm.isEmpty(), f"bench query {name!r} leaked Dataset cache entries"
