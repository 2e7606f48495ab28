"""Merkle digest trees + snapshot diff semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigtrees_spark.operators.diff import changed_partitions, diff_with_pruning, snapshot_diff
from bigtrees_spark.operators.digest import (
    partition_digests,
    rollup_digest_tree,
    root_info,
)
from bigtrees_spark.operators.fingerprint import fingerprint_docs
from bigtrees_spark.sources.fixtures import corpus_to_spark, derive_snapshot_v2


@pytest.fixture(scope="module")
def fp(pages):
    return fingerprint_docs(pages).cache()


def test_digest_deterministic_under_reorder(fp):
    """The Merkle rule (sorted child digests, HashTree/Base.hs:69-70): row
    order and partitioning cannot change any digest."""
    d1 = {r.bucket: r.digest for r in partition_digests(fp).collect()}
    reordered = fp.repartition(13).sortWithinPartitions(F.desc("url"))
    d2 = {r.bucket: r.digest for r in partition_digests(reordered).collect()}
    assert d1 == d2


def test_rollup_invariants(fp, corpus):
    """Bottom-up aggregates (Build.hs:280-289): root counts == table totals."""
    tree = rollup_digest_tree(partition_digests(fp))
    info = root_info(tree).collect()[0]
    assert info.total_docs == len(corpus.pages)
    assert info.total_bytes == sum(len(t.encode()) for t in corpus.pages.text)


def test_root_digest_content_only(spark, fp):
    """Identical content under different bucketing widths -> same level-0
    multiset semantics; root digest changes ONLY if content changes."""
    t1 = rollup_digest_tree(partition_digests(fp, n_buckets=16))
    r1 = root_info(t1).collect()[0].root_digest
    # same content, same bucketing, recomputed from scratch -> identical root
    t2 = rollup_digest_tree(partition_digests(fp, n_buckets=16))
    assert root_info(t2).collect()[0].root_digest == r1
    # content change -> different root
    fp2 = fp.withColumn(
        "sha256", F.when(F.col("url").endswith("0"), F.lit("tampered")).otherwise(F.col("sha256"))
    )
    t3 = rollup_digest_tree(partition_digests(fp2, n_buckets=16))
    assert root_info(t3).collect()[0].root_digest != r1


def test_snapshot_diff_matches_planted_deltas(spark, corpus):
    pages_v2, expected = derive_snapshot_v2(corpus, seed=43)
    old = fingerprint_docs(corpus_to_spark(spark, corpus.pages))
    new = fingerprint_docs(corpus_to_spark(spark, pages_v2))
    got = {(r.kind, r.url, r.url_new) for r in snapshot_diff(old, new).collect()}
    want = {
        (r.kind, r.url, r.url_new if isinstance(r.url_new, str) else None)
        for r in expected.itertuples(index=False)
    }
    assert got == want


def test_diff_pruning_same_result_and_skips_unchanged(spark, corpus):
    pages_v2, expected = derive_snapshot_v2(corpus, seed=43)
    old = fingerprint_docs(corpus_to_spark(spark, corpus.pages))
    new = fingerprint_docs(corpus_to_spark(spark, pages_v2))
    od = partition_digests(old, n_buckets=16)
    nd = partition_digests(new, n_buckets=16)

    n_changed = changed_partitions(od, nd).count()
    assert 0 < n_changed <= 16

    from bigtrees_spark.operators.digest import bucket_of

    old_b = old.withColumn("bucket", bucket_of("url", 16))
    new_b = new.withColumn("bucket", bucket_of("url", 16))
    got = {(r.kind, r.url, r.url_new) for r in diff_with_pruning(old_b, new_b, od, nd).collect()}
    want = {
        (r.kind, r.url, r.url_new if isinstance(r.url_new, str) else None)
        for r in expected.itertuples(index=False)
    }
    assert got == want


def test_diff_empty_on_identical(spark, corpus):
    fp1 = fingerprint_docs(corpus_to_spark(spark, corpus.pages))
    assert snapshot_diff(fp1, fp1).count() == 0


def test_apply_deltas_roundtrip(spark, corpus):
    """simDelta property (Delta.hs:127-136): replaying the diff against the
    old snapshot reconstructs the new one exactly."""
    from bigtrees_spark.operators.diff import apply_deltas

    pages_v2, _ = derive_snapshot_v2(corpus, seed=43)
    old = fingerprint_docs(corpus_to_spark(spark, corpus.pages)).select("url", "sha256")
    new = fingerprint_docs(corpus_to_spark(spark, pages_v2)).select("url", "sha256")
    deltas = snapshot_diff(old, new)
    rebuilt = apply_deltas(old, deltas, new)
    a = {(r.url, r.digest) for r in rebuilt.collect()}
    b = {(r.url, r.sha256) for r in new.collect()}
    assert a == b


def test_mass_move_of_identical_content_pairs_1to1(spark):
    """VERDICT r04 #5: a mass-move of identical-content files (ONE digest,
    thousands of Rm+Add rows) must pair 1:1 with every row consumed exactly
    once — through the salted rank-match, whose per-digest window only ever
    sees the salt-imbalance residual, not the whole group."""
    from pyspark.sql import functions as F

    from bigtrees_spark.operators.diff import snapshot_diff

    n = 4000
    old = spark.range(n).select(
        F.format_string("old/%05d", "id").alias("url"), F.lit("samehash").alias("sha256")
    )
    new = spark.range(n).select(
        F.format_string("new/%05d", "id").alias("url"), F.lit("samehash").alias("sha256")
    )
    deltas = snapshot_diff(old, new).collect()
    mvs = [r for r in deltas if r.kind == "Mv"]
    assert len(deltas) == n and len(mvs) == n   # all consumed, zero Add/Rm rows
    assert len({r.url for r in mvs}) == n       # each Rm once
    assert len({r.url_new for r in mvs}) == n   # each Add once
    # determinism: second run pairs identically
    again = {(r.url, r.url_new) for r in snapshot_diff(old, new).collect() if r.kind == "Mv"}
    assert {(r.url, r.url_new) for r in mvs} == again


def test_partial_mass_move_leftovers(spark):
    """Unbalanced sides: 30 Rm vs 20 Add of one digest -> 20 Mv + 10 Rm."""
    from pyspark.sql import functions as F

    from bigtrees_spark.operators.diff import snapshot_diff

    old = spark.range(30).select(
        F.format_string("old/%05d", "id").alias("url"), F.lit("h1").alias("sha256")
    )
    new = spark.range(20).select(
        F.format_string("new/%05d", "id").alias("url"), F.lit("h1").alias("sha256")
    )
    kinds = [r.kind for r in snapshot_diff(old, new).collect()]
    assert kinds.count("Mv") == 20 and kinds.count("Rm") == 10
    assert kinds.count("Add") == 0 and kinds.count("Edit") == 0


def test_rollup_leaves_no_persistent_rdd(spark, fp, cache_state):
    """The fold reads level 0 to the driver once and runs over a local
    frame: building and counting the tree caches and checkpoints nothing."""
    rollup_digest_tree(partition_digests(fp, n_buckets=64), fanout=4).count()
    assert cache_state()[1] == 0
