"""Focused regression tests for the round-6 optimizations: each pins an
operator internal that was rewritten for performance to the behavior of the
shape it replaced (OPTIMIZATION_r06.md)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigtrees_spark.config import DEFAULT_CONFIG
from bigtrees_spark.operators import lsh
from bigtrees_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_neardup_pairs,
)


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
    """Size-2 buckets (the dominant case) pair like every other bucket
    <= cap: all-pairs semantics for every size, including size-1 drops."""
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
    size-2 bucket — the core must not duplicate or drop pairs."""
    rows = [("b", "x"), ("b", "y"), ("c", "x"), ("c", "y")]
    items = spark.createDataFrame(rows, "bucket string, item string")
    got = [
        (r.l, r.r)
        for r in lsh._skewcapped_pairs(
            items, ["bucket"], cap=50, distinct=False
        ).collect()
    ]
    assert sorted(got) == [("x", "y"), ("x", "y")]


# The JVM fold every embedding scorer once used — the reference the shared
# numpy kernel (kernels.cosine) must reproduce bit for bit.
def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


@pytest.mark.parametrize(
    "op,elem",
    [
        (op, elem)
        for op in ("brute_force_topk", "lsh_neardup_pairs", "ivf_topk")
        for elem in ("float", "double")
    ],
)
def test_cosine_scorers_match_jvm_fold(spark, op, elem):
    """Every embedding scorer must return the cosines of the JVM
    zip_with/aggregate fold bit for bit, for array<float> (float32 products,
    float64 accumulate) and array<double>; brute force also ranks exactly
    like a window over the fold's scores."""
    import numpy as np

    rng = np.random.default_rng(11)
    mat = rng.standard_normal((30, 12)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    if elem == "double":
        df = df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
    q = df.where("vec_id < 4")
    left = df.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    right = df.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    fold = {
        (r.a, r.b): r.c
        for r in left.crossJoin(right)
        .where("a != b")
        .select("a", "b", (_dot("va", "vb") / (_norm("va") * _norm("vb"))).alias("c"))
        .collect()
    }

    if op == "lsh_neardup_pairs":
        got = [
            (r.id_l, r.id_r, r.cosine)
            for r in lsh_neardup_pairs(df, cosine_threshold=-2.0, dim=12).collect()
        ]
        assert got
        assert all(c == fold[(a, b)] for a, b, c in got)
        return
    if op == "ivf_topk":
        got = ivf_topk(q, df, k=5, dim=12, n_centroids=4, n_probe=2).collect()
        assert got
        assert all(r.cosine == fold[(r.query_id, r.neighbor_id)] for r in got)
        return
    got = brute_force_topk(q, df, k=5).orderBy("query_id", "rank").collect()
    expected = [
        (qid, nid, fold[(qid, nid)], rank)
        for qid in range(4)
        for rank, nid in enumerate(
            sorted((n for n in range(30) if n != qid), key=lambda n: (-fold[(qid, n)], n))[:5],
            start=1,
        )
    ]
    assert [tuple(r) for r in got] == expected


def test_winners_bands_agg_matches_min_url_rows(spark):
    """The rep-table aggregation (min(url), first(bands/shingles/simhash))
    yields each group's min url with that url's own payload: the payload is
    identical within a sha256 group, so first() is value-deterministic."""
    from bigtrees_spark.operators.fingerprint import fingerprint_docs

    pages = spark.createDataFrame(
        [(f"u/{i:02d}", f"same text body {i % 3}") for i in range(12)],
        "url string, text string",
    )
    fp = fingerprint_docs(pages)
    payload = ["bands", "shingles", "simhash"]
    merged = (
        fp.groupBy("sha256")
        .agg(F.min("url").alias("url"), *[F.first(c).alias(c) for c in payload])
        .collect()
    )
    by_url = {r.url: r for r in fp.select("url", *payload).collect()}
    reps = {
        r.sha256: min(u for u, s in urls)
        for r in merged
        for urls in [[(x.url, x.sha256) for x in fp.collect() if x.sha256 == r.sha256]]
    }
    for r in merged:
        assert r.url == reps[r.sha256]
        assert [r[c] for c in payload] == [by_url[r.url][c] for c in payload]


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
