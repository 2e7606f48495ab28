"""The one edge predicate: exact shingle Jaccard >= cfg.jaccard_threshold,
fed from the pipeline's rep table — plan shape, agreement with the stream's
verify, and the 250-doc fixture's edges pinned."""

from __future__ import annotations

import datetime
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from bigtrees_spark.operators import lsh
from bigtrees_spark.plans.pipeline import near_dedup_pipeline


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _words(stem: str, n: int = 60) -> str:
    return " ".join(f"{stem}{i}" for i in range(n))


def _drop(text: str, k: int) -> str:
    return " ".join(text.split()[:-k])


# unique docs, a twin above the threshold, a pair that shares bands' worth of
# shingles but falls below it, and two whitespace-only docs: distinct sha256,
# both with empty shingle sets (jaccard 1.0 by the shared convention)
_FIXTURE = [
    ("u:a", _words("alpha")),
    ("u:a2", _drop(_words("alpha"), 3)),
    ("u:b", _words("bravo")),
    ("u:b2", _drop(_words("bravo"), 32)),  # jaccard 24/56
    ("u:c", _words("charlie")),
    ("u:d", _words("delta", 20)),
    ("u:d2", _drop(_words("delta", 20), 2)),
    ("u:ws1", " "),
    ("u:ws2", "\n\t  "),
]


@pytest.fixture(scope="module")
def small_pages(spark):
    ts = datetime.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [(u, ts, None, t, "en") for u, t in _FIXTURE],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_verify_plan_reads_shingles_once_per_side(spark):
    docs = spark.createDataFrame(
        [("u:a", [1, 2, 3]), ("u:b", [2, 3, 4])], "url string, shingles array<int>"
    ).withColumn("minhash", F.transform("shingles", lambda x: x + 1))
    pairs = spark.createDataFrame([("u:a", "u:b")], "url_l string, url_r string")
    edges = lsh.verify_pairs(pairs, docs)
    plan = _optimized(edges)
    assert len(re.findall(r"(?m)^\W*Join ", plan)) == 2, plan
    assert "minhash" not in plan, plan
    assert [(r.url_l, r.url_r, r.jaccard) for r in edges.collect()] == [("u:a", "u:b", 0.5)]


def test_simhash_edges_read_the_rep_table(small_pages):
    res = near_dedup_pipeline(small_pages, use_simhash_edges=True)
    try:
        assert "LeftSemi" not in _optimized(res.edges)
    finally:
        res.unpersist()


def test_batch_edges_match_stream_edges(spark, small_pages, tmp_path):
    from bigtrees_spark.streaming.neardup import distinct_edges, start_neardup_stream

    src, ckpt, sink = (str(tmp_path / d) for d in ("src", "ckpt", "sink"))
    small_pages.write.parquet(src)
    start_neardup_stream(spark, src, ckpt, sink).awaitTermination(120)
    stream = {(r.url_l, r.url_r): r.jaccard for r in distinct_edges(spark, sink).collect()}

    res = near_dedup_pipeline(small_pages)
    try:
        batch = {(r.url_l, r.url_r): r.jaccard for r in res.edges.collect()}
    finally:
        res.unpersist()

    assert batch.keys() == stream.keys()
    assert batch == pytest.approx(stream)
    assert batch[("u:ws1", "u:ws2")] == 1.0
    assert ("u:a", "u:a2") in batch and ("u:b", "u:b2") not in batch


@pytest.mark.parametrize("simhash", [False, True], ids=["minhash", "simhash"])
def test_fixture_edges_pinned(pages, simhash):
    """The 250-doc fixture's edge rows (url_l, url_r, jaccard) are those of
    the verify that ran a MinHash-estimate prefilter before the exact
    Jaccard: the prefilter never dropped a pair here."""
    path = os.path.join(os.path.dirname(__file__), "golden_edges_250_seed42.json")
    with open(path) as f:
        golden = json.load(f)["simhash" if simhash else "minhash"]
    res = near_dedup_pipeline(pages, use_simhash_edges=simhash)
    try:
        got = [
            [r.url_l, r.url_r, None if r.jaccard is None else round(r.jaccard, 12)]
            for r in res.edges.collect()
        ]
    finally:
        res.unpersist()
    key = lambda t: (t[0], t[1], t[2] is None, t[2] or 0)  # noqa: E731
    assert sorted(got, key=key) == golden
