"""Focused regression tests for the round-6 optimizations: each pins an
operator internal that was rewritten for performance to the behavior of the
shape it replaced (OPTIMIZATION_r06.md)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window, functions as F

from bigtrees_spark.config import DEFAULT_CONFIG
from bigtrees_spark.operators import lsh
from bigtrees_spark.operators.similarity import _dot, _norm, brute_force_topk


def _brute_pairs(rows):
    """All unordered within-bucket pairs of (bucket, item) tuples."""
    from collections import defaultdict
    from itertools import combinations

    buckets = defaultdict(list)
    for b, it in rows:
        buckets[b].append(it)
    out = set()
    for items in buckets.values():
        for a, c in combinations(sorted(items), 2):
            out.add((a, c))
    return out


def test_skewcapped_pairs_size2_fast_path_matches_bruteforce(spark):
    """The size-2 window fast path (pair2) must emit exactly the pair the
    collect_list+combos path used to: all-pairs semantics for every bucket
    size <= cap, including the dominant size-2 case and size-1 drops."""
    rows = []
    # bucket sizes 1, 2, 2, 3, 5 — mixed, several buckets per size
    rows += [("b1", "u01")]
    rows += [("b2a", "u02"), ("b2a", "u03")]
    rows += [("b2b", "u05"), ("b2b", "u04")]  # arrival order != sorted order
    rows += [("b3", f"u1{i}") for i in range(3)]
    rows += [("b5", f"u2{i}") for i in range(5)]
    items = spark.createDataFrame(rows, "bucket string, item string")
    got = {
        (r.l, r.r)
        for r in lsh._skewcapped_pairs(items, ["bucket"], cap=50).collect()
    }
    assert got == _brute_pairs(rows)
    # and every pair is ordered l < r (the contract downstream relies on)
    assert all(l < r for l, r in got)


def test_skewcapped_pairs_size2_nondistinct_single_emission(spark):
    """distinct=False callers (the winnow pass) rely on one emission per
    size-2 bucket — the fast path must not duplicate or drop pairs."""
    rows = [("b", "x"), ("b", "y"), ("c", "x"), ("c", "y")]
    items = spark.createDataFrame(rows, "bucket string, item string")
    got = [
        (r.l, r.r)
        for r in lsh._skewcapped_pairs(
            items, ["bucket"], cap=50, distinct=False
        ).collect()
    ]
    assert sorted(got) == [("x", "y"), ("x", "y")]


@pytest.mark.parametrize("cast_double", [False, True])
def test_brute_force_topk_arrow_matches_jvm_crossjoin(spark, cast_double):
    """The Arrow corpus-scan scoring path must be row- and bit-identical to
    the JVM cross-join + zip_with/aggregate shape it replaced, for both
    array<float> (float32 products, float64 accumulate) and array<double>."""
    import numpy as np

    rng = np.random.default_rng(11)
    mat = rng.standard_normal((30, 12)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    if cast_double:
        df = df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
    q = df.where("vec_id < 4")

    # the pre-round-6 JVM shape, inlined
    qj = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    cj = df.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
    )
    scored = (
        cj.crossJoin(F.broadcast(qj))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    expected = (
        scored.select("query_id", "neighbor_id", "cosine")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
        .collect()
    )
    got = brute_force_topk(q, df, k=5).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]


def test_winners_bands_agg_matches_min_url_rows(spark):
    """The merged winners aggregation (min(url), first(bands)) must produce
    the same (rep url, bands) rows the old winners + semi-join produced:
    bands are identical within a sha256 group, so first() is value-
    deterministic."""
    from bigtrees_spark.operators.fingerprint import fingerprint_docs

    pages = spark.createDataFrame(
        [(f"u/{i:02d}", f"same text body {i % 3}") for i in range(12)],
        "url string, text string",
    )
    fp = fingerprint_docs(pages, compute_simhash=False)
    merged = (
        fp.groupBy("sha256")
        .agg(F.min("url").alias("url"), F.first("bands").alias("bands"))
        .collect()
    )
    by_url = {r.url: r.bands for r in fp.select("url", "bands").collect()}
    reps = {
        r.sha256: min(u for u, s in urls)
        for r in merged
        for urls in [[(x.url, x.sha256) for x in fp.collect() if x.sha256 == r.sha256]]
    }
    for r in merged:
        assert r.url == reps[r.sha256]
        assert list(r.bands) == list(by_url[r.url])


def test_prewarm_patches_sql_worker_pool(spark):
    """get_spark's prewarm must leave the zipimport invalidation guard
    installed in the SQL/Arrow worker pool (the guard is the round-6 fix for
    the 140-280 ms importlib.invalidate_caches() cost every Python task was
    paying on this environment)."""

    @F.pandas_udf("int")
    def guard_installed(s: pd.Series) -> pd.Series:
        import zipimport

        flag = 1 if getattr(zipimport.zipimporter, "_bigtrees_mtime_guard", False) else 0
        return pd.Series([flag] * len(s), dtype="int32")

    rows = (
        spark.range(0, 64, 1, 16)
        .select(guard_installed("id").alias("g"))
        .agg(F.min("g").alias("mn"))
        .collect()
    )
    assert rows[0].mn == 1


def test_brute_force_topk_zero_and_empty_vectors_give_nan(spark):
    """A zero-norm or empty vector scores NaN (0/0 in float64), on the
    ragged-batch path and on the uniform-length matrix path alike; only a
    length mismatch yields a null cosine."""
    import math

    ragged = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, []), (3, [])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)  # one batch with mixed lengths: the per-row path
    got = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(ragged, ragged, k=5).collect()
    }
    assert math.isnan(got[(0, 1)]) and math.isnan(got[(1, 0)])  # zero norm
    assert math.isnan(got[(2, 3)]) and math.isnan(got[(3, 2)])  # empty vs empty
    assert got[(0, 2)] is None and got[(2, 1)] is None  # length mismatch

    uniform = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    ).coalesce(1)
    got = brute_force_topk(uniform, uniform, k=5).collect()
    assert len(got) == 2 and all(math.isnan(r.cosine) for r in got)


def test_fingerprint_keeps_splits_of_wide_file_input(spark, tmp_path):
    """Only a caller's ensure_parallelism=False (pre_partitioned) coalesces;
    a file-backed input the inputFiles() heuristic finds wide enough keeps
    its split count."""
    from bigtrees_spark.operators.fingerprint import fingerprint_docs

    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "wide")
    spark.range(4 * par).select(
        F.format_string("https://w.example/%d", "id").alias("url"),
        F.format_string("document %d body text", "id").alias("text"),
    ).repartition(2 * par).write.parquet(path)
    df = spark.read.parquet(path)
    # one split per file: tiny files are otherwise packed ~par to a split
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        n_in = df.rdd.getNumPartitions()
        assert len(df.inputFiles()) >= par and n_in > par
        assert fingerprint_docs(df).rdd.getNumPartitions() == n_in
        assert fingerprint_docs(df, ensure_parallelism=False).rdd.getNumPartitions() == par
    finally:
        spark.conf.set(key, prior)
