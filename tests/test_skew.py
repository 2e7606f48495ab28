"""Skew handling is measured, not assumed (SURVEY §7; north_rule "skew
handled explicitly"): over-cap buckets degrade to rank-adjacent pairing —
never silent drops — and every capped stage records its bucket-size
distribution + cap-fire count as a skew entry of the RunScope report."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bigtrees_spark.config import DEFAULT_CONFIG
from bigtrees_spark.operators import lsh
from bigtrees_spark.operators.fingerprint import fingerprint_docs
from bigtrees_spark.plans.runmeta import RunScope


@pytest.fixture()
def hot_chunk_fp(spark):
    """40 near-identical docs: their simhashes agree on (at least) one 16-bit
    chunk, forming one hot chunk bucket we can push over a tiny cap."""
    ts = datetime.datetime(2025, 1, 1)
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the market report shows steady quarterly growth in every region "
    ) * 6
    rows = [
        (f"hot/{i:04d}", ts, None, base + f"suffix token {i % 3}", "en")
        for i in range(40)
    ]
    pages = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    return fingerprint_docs(pages)


def test_simhash_hot_chunk_keeps_connectivity(spark, hot_chunk_fp):
    # cap of 5 forces EVERY chunk bucket of the 40-doc group over cap:
    # the old behavior dropped all pairs; rank-chaining must keep the
    # group connected (as one chain) instead
    edges = lsh.simhash_edges(hot_chunk_fp, DEFAULT_CONFIG, chunk_cap=5)
    got = [(r.url_l, r.url_r) for r in edges.collect()]
    assert len(got) > 0, "over-cap chunks must not lose all pairs"

    # connectivity: union-find over returned edges — docs with identical
    # simhash (Hamming 0) must end up connected despite the cap
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got:
        parent[find(a)] = find(b)
    sh = {r.url: r.simhash for r in hot_chunk_fp.select("url", "simhash").collect()}
    from collections import Counter

    groups = Counter(sh.values())
    dup_sh = [v for v, n in groups.items() if n > 1]
    assert dup_sh, "fixture must contain identical-simhash docs"
    for v in dup_sh:
        members = [u for u, s in sh.items() if s == v]
        roots = {find(u) for u in members}
        assert len(roots) == 1, f"identical-simhash docs split across {len(roots)} components"


def test_skew_metrics_recorded(spark, hot_chunk_fp):
    """Both capped stages report the bucket-size distribution of the 40-doc
    hot group: every simhash chunk bucket is over the cap of 5."""
    with RunScope(spark, "skew") as rs:
        lsh.simhash_edges(hot_chunk_fp, DEFAULT_CONFIG, rs=rs, chunk_cap=5).count()
        lsh.candidate_pairs(hot_chunk_fp, DEFAULT_CONFIG, rs=rs).count()
        skew = {e["stage"]: e for e in rs.report()["skew"]}
    fields = ("cap", "n_buckets", "n_overcap", "max_bucket", "p95_bucket")
    assert {k: skew["simhash_chunks"][k] for k in fields} == dict(
        cap=5, n_buckets=4, n_overcap=4, max_bucket=40, p95_bucket=40
    )
    assert {k: skew["lsh_bands"][k] for k in fields} == dict(
        cap=DEFAULT_CONFIG.max_bucket_size, n_buckets=56, n_overcap=0,
        max_bucket=40, p95_bucket=40,
    )


def test_partition_balance_recorded(spark):
    """SURVEY §7: per-task balance of every stage — task-time p50 and max —
    is in the report's stage rows, read from the status store (no extra
    job), including the pipeline's fingerprint (ArrowEvalPython) stage."""
    from bigtrees_spark.plans.pipeline import near_dedup_pipeline

    ts = datetime.datetime(2025, 1, 1)
    src = spark.createDataFrame(
        [(f"u/{i}", ts, None, f"body words number {i} repeated thing", "en") for i in range(30)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    with RunScope(spark, "balance") as rs:
        near_dedup_pipeline(src, rs=rs).clusters.count()
        stages = rs.report()["stages"]
    assert any("ArrowEvalPython" in r["ops"] for r in stages)
    for r in stages:
        assert r["tasks"] >= 1
        assert 0 <= r["task_p50_s"] <= r["task_max_s"]


def test_small_buckets_unchanged_by_cap_path(spark, pages):
    """With a huge cap, the new union path must equal the pure all-pairs
    result (no behavior change for normal buckets)."""
    fp = fingerprint_docs(pages.limit(80))
    a = {
        (r.url_l, r.url_r)
        for r in lsh.simhash_edges(fp, DEFAULT_CONFIG, chunk_cap=10**6).collect()
    }
    b_small = fp.select("url", "simhash")
    exp = (
        b_small.alias("l")
        .join(b_small.alias("r"), F.col("l.url") < F.col("r.url"))
        .where(
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
            <= DEFAULT_CONFIG.simhash_hamming_max
        )
        .select(F.col("l.url").alias("url_l"), F.col("r.url").alias("url_r"))
    )
    assert a == {(r.url_l, r.url_r) for r in exp.collect()}


def test_simhash_rejects_radius_beyond_pigeonhole(spark):
    """The 4x16-bit chunk blocking only guarantees candidates for Hamming <= 3;
    a wider configured radius must be rejected, not silently under-recalled."""
    import dataclasses

    import pytest as _pytest

    from bigtrees_spark.config import DEFAULT_CONFIG
    from bigtrees_spark.operators.lsh import simhash_edges

    fp = spark.createDataFrame([("u:a", 5), ("u:b", 9)], "url string, simhash long")
    bad = dataclasses.replace(DEFAULT_CONFIG, simhash_hamming_max=4)
    with _pytest.raises(ValueError, match="simhash_hamming_max"):
        simhash_edges(fp, bad)
