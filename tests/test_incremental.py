"""Incremental fingerprint reuse, simplifyDupes containment pruning, skew-cap
recall, and streaming ingest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigtrees_spark.operators.dedup import (
    exact_dupe_groups,
    prefix_dupe_groups,
    simplify_dupes,
)
from bigtrees_spark.operators.fingerprint import fingerprint_docs
from bigtrees_spark.sources.fixtures import corpus_to_spark, derive_snapshot_v2


def test_prefix_groups_and_simplify(spark):
    """Two sections with identical content sets -> one prefix-level group;
    doc-level groups fully inside them are pruned (simplifyDupes semantics,
    DupeMap.hs:147-154); a doc group with a member elsewhere survives."""
    rows = []
    for sec in ("a", "b"):  # identical sections (prefix-level dupes)
        for i in range(4):
            rows.append((f"https://s.example/{sec}/doc{i}", f"content {i}", 100))
    # a doc-level dupe with one member OUTSIDE the covered prefixes
    rows.append(("https://s.example/c/doc0", "content 0", 100))
    df = spark.createDataFrame(rows, "url string, text string, n int").select(
        "url", F.length("text").alias("nbytes"), F.sha2("text", 256).alias("sha256")
    )
    pg = prefix_dupe_groups(df)
    got = pg.collect()
    assert len(got) == 1
    assert got[0].prefixes == ["https://s.example/a", "https://s.example/b"]
    assert got[0].n_prefixes == 2

    dg = exact_dupe_groups(df)
    assert dg.count() == 4  # content 0..3 each duplicated
    kept = simplify_dupes(dg, pg).collect()
    # only the group containing the /c/doc0 member survives
    assert len(kept) == 1
    assert any("https://s.example/c/doc0" in m for m in kept[0].members)


def test_skew_cap_preserves_planted_recall(spark, pages, corpus):
    """With an aggressively small bucket cap, chained pairing must keep the
    planted groups connected (skew-handling must not cost recall)."""
    from dataclasses import replace

    from bigtrees_spark.config import DEFAULT_CONFIG
    from bigtrees_spark.plans.pipeline import near_dedup_pipeline

    cfg = replace(DEFAULT_CONFIG, max_bucket_size=8)
    res = near_dedup_pipeline(pages, cfg=cfg)
    labels = {r.url: r.cluster_id for r in res.clusters.collect()}
    for gid, grp in corpus.groups.groupby("group_id"):
        if grp.kind.iloc[0] == "substring":
            continue
        cids = {labels[u] for u in grp.url}
        assert len(cids) == 1, f"group {gid} split under skew cap"


def test_streaming_ingest_dedups(spark, tmp_path):
    import pandas as pd

    from bigtrees_spark.sources.fixtures import generate_corpus
    from bigtrees_spark.streaming.ingest import stream_ingest

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    corpus = generate_corpus(120, seed=9)
    corpus_to_spark(spark, corpus.pages).write.parquet(src)

    q = stream_ingest(spark, src, sink, ckpt, watermark="10 minutes")
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    n_distinct_texts = corpus.pages.text.nunique()
    assert out.count() == n_distinct_texts  # exact dups dropped in-stream
    assert out.select("sha256").distinct().count() == n_distinct_texts


def test_incremental_run_digest_driven(spark, pages, corpus, tmp_path):
    """Merkle-digest-driven incremental: second run over a 7%-changed snapshot
    re-fingerprints only the changed buckets and matches a full recompute."""
    from bigtrees_spark.plans.incremental import incremental_run

    state = str(tmp_path / "state")

    r1 = incremental_run(spark, pages, state, n_buckets=16)
    assert r1.n_buckets_changed == r1.n_buckets_total  # first run: all fresh
    assert r1.docs_fp.count() == pages.count()

    pages_v2, _ = derive_snapshot_v2(corpus, seed=43)
    new_pages = corpus_to_spark(spark, pages_v2)
    r2 = incremental_run(spark, new_pages, state, n_buckets=16)
    assert 0 < r2.n_buckets_changed <= r2.n_buckets_total
    assert r2.docs_fp.count() == new_pages.count()

    full = fingerprint_docs(new_pages)
    a = {(r.url, r.sha256) for r in r2.docs_fp.select("url", "sha256").collect()}
    b = {(r.url, r.sha256) for r in full.select("url", "sha256").collect()}
    assert a == b

    # third run, nothing changed: zero buckets recomputed
    r3 = incremental_run(spark, new_pages, state, n_buckets=16)
    assert r3.n_buckets_changed == 0
    assert r3.docs_fp.count() == new_pages.count()


def _fp_rows(df) -> dict:
    """url -> hash of every fingerprint column: row-level agreement."""
    return {
        r.url: r.h
        for r in df.select(
            "url",
            F.xxhash64("sha256", "minhash", "simhash", "bands", "shingles", "n_tokens").alias("h"),
        ).collect()
    }


def _files(path) -> dict:
    import os

    return {
        os.path.relpath(os.path.join(d, f), path): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(path)
        for f in fs
    }


def test_incremental_state_flat_and_noop_rerun_writes_nothing(spark, pages, tmp_path):
    """docs_fp is one flat table (bucket is a column, not a directory), and a
    rerun over an unchanged snapshot returns the stored state untouched."""
    import os

    from bigtrees_spark.plans.incremental import incremental_run

    state = str(tmp_path / "state")
    incremental_run(spark, pages, state, n_buckets=16)
    docs_dir = os.path.join(state, "docs_fp")
    assert not [e for e in os.listdir(docs_dir) if e.startswith("bucket=")]
    before = _files(state)

    r2 = incremental_run(spark, pages, state, n_buckets=16)
    assert r2.n_buckets_changed == 0 and r2.n_buckets_total == 16
    assert _files(state) == before  # same file names, same mtimes
    assert _fp_rows(r2.docs_fp) == _fp_rows(fingerprint_docs(pages))


def test_incremental_reads_legacy_partitioned_state(spark, pages, corpus, tmp_path):
    """A docs_fp committed in the older bucket=* layout is reused by the next
    run, which agrees with a fresh fingerprint and leaves the state flat."""
    import os

    from bigtrees_spark.plans.incremental import incremental_run
    from bigtrees_spark.sinks import SnapshotSink

    state = str(tmp_path / "state")
    incremental_run(spark, pages, state, n_buckets=16)
    sink = SnapshotSink(spark, state)
    sink.commit_snapshot(sink.read("docs_fp"), "docs_fp", partition_by=["bucket"])
    assert sink.partitioned("docs_fp")

    new_pages = corpus_to_spark(spark, derive_snapshot_v2(corpus, seed=43)[0])
    r2 = incremental_run(spark, new_pages, state, n_buckets=16)
    assert 0 < r2.n_buckets_changed < r2.n_buckets_total  # some rows were kept
    assert _fp_rows(r2.docs_fp) == _fp_rows(fingerprint_docs(new_pages))
    assert not sink.partitioned("docs_fp")
    assert not [e for e in os.listdir(os.path.join(state, "docs_fp")) if "=" in e]

    # an unchanged rerun over a legacy layout rewrites it flat as well
    sink.commit_snapshot(sink.read("docs_fp"), "docs_fp", partition_by=["bucket"])
    r3 = incremental_run(spark, new_pages, state, n_buckets=16)
    assert r3.n_buckets_changed == 0
    assert not sink.partitioned("docs_fp")
    assert _fp_rows(r3.docs_fp) == _fp_rows(fingerprint_docs(new_pages))


def test_incremental_drops_removed_bucket(spark, pages, tmp_path):
    """A v2 without any url of one bucket (nothing else changed) drops that
    bucket's rows without re-fingerprinting anything."""
    from bigtrees_spark.operators.digest import bucket_of
    from bigtrees_spark.plans.incremental import incremental_run

    state = str(tmp_path / "state")
    incremental_run(spark, pages, state, n_buckets=16)
    gone = pages.withColumn("bucket", bucket_of("url", 16)).where("bucket = 3")
    assert gone.count() > 0
    v2 = pages.join(gone.select("url"), "url", "left_anti")

    r2 = incremental_run(spark, v2, state, n_buckets=16)
    assert r2.n_buckets_changed == 0 and r2.n_buckets_total == 15
    assert r2.docs_fp.where("bucket = 3").count() == 0
    assert _fp_rows(r2.docs_fp) == _fp_rows(fingerprint_docs(v2))


def test_incremental_config_change_invalidates_state(spark, pages, tmp_path):
    """Fingerprints stored under one FingerprintConfig are never reused under
    another, nor from a state that does not record its config."""
    from dataclasses import replace

    from bigtrees_spark.config import DEFAULT_CONFIG
    from bigtrees_spark.plans.incremental import incremental_run
    from bigtrees_spark.sinks import SnapshotSink

    state = str(tmp_path / "state")
    incremental_run(spark, pages, state, n_buckets=16)
    cfg4 = replace(DEFAULT_CONFIG, shingle_k=4)
    r2 = incremental_run(spark, pages, state, n_buckets=16, cfg=cfg4)
    assert r2.n_buckets_changed == r2.n_buckets_total == 16
    assert _fp_rows(r2.docs_fp) == _fp_rows(fingerprint_docs(pages, cfg4))
    assert _fp_rows(r2.docs_fp) != _fp_rows(fingerprint_docs(pages))

    # a state written before config hashes were stored counts as stale
    sink = SnapshotSink(spark, state)
    sink.commit_snapshot(sink.read("digests").drop("config_hash"), "digests")
    r3 = incremental_run(spark, pages, state, n_buckets=16, cfg=cfg4)
    assert r3.n_buckets_changed == r3.n_buckets_total == 16
    assert _fp_rows(r3.docs_fp) == _fp_rows(fingerprint_docs(pages, cfg4))
