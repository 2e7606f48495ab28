"""The shared LSH pairing core (lsh._skewcapped_pairs) against a pure-Python
reference model: every within-bucket pair for buckets of size <= cap, the
NEIGHBOR_K rank successors above it, null items never pairing — for string
and struct items, with and without the pair dedup.  Plus its plan shape:
building candidate pairs runs no Spark job and caches nothing, and a second
get_spark on a live session runs no prewarm job."""

from __future__ import annotations

import uuid
from collections import defaultdict
from contextlib import contextmanager

import pytest

from bigtrees_spark.operators import lsh

CAP = 50
# bucket sizes around every boundary of the core: singleton, the smallest
# pair, the smallest all-pairs bucket with >1 pair, exactly cap, one over
# cap, and far over cap
SIZES = [1, 2, 3, CAP, CAP + 1, 1000]


def _ref_pairs(rows, cap: int, distinct: bool) -> list:
    """(l, r) pairs of (key, item) rows, by the core's contract."""
    buckets = defaultdict(list)
    for key, item in rows:
        if item is not None:
            buckets[key].append(item)
    out = []
    for its in buckets.values():
        its = sorted(its)
        n = len(its)
        if n <= cap:
            out += [(its[i], its[j]) for j in range(n) for i in range(j)]
        else:
            out += [
                (its[i], its[i + k])
                for i in range(n)
                for k in range(1, lsh.NEIGHBOR_K + 1)
                if i + k < n
            ]
    return sorted(set(out)) if distinct else sorted(out)


def _bucket_rows(make_item):
    """(key, item) rows: one bucket per size in SIZES, items in scrambled
    arrival order, a twin of the size-3 bucket (so the same pairs come out
    of two buckets, as from two LSH bands) and a bucket holding a null."""
    rows = []
    for b, n in enumerate(SIZES):
        for j in range(n):
            rows.append(((b, b % 2), make_item(b, (j * 7919) % n)))
    rows += [((90, 0), it) for k, it in rows if k[0] == 2]
    rows += [((91, 1), None), ((91, 1), make_item(91, 0)), ((91, 1), make_item(91, 1))]
    return rows


def _string_item(b, j):
    return f"u{b:02d}-{j:04d}"


def _simhash_item(b, j):
    return (f"u{b:02d}-{j:04d}", (j * 2654435761) % (1 << 62))


def _pos_item(b, j):
    # the url repeats inside a bucket at different positions, as winnowed
    # substring fingerprints do
    return (f"u{b:02d}-{j // 4:04d}", j % 4)


ITEM_KINDS = {
    "string": (_string_item, "string"),
    "url_simhash": (_simhash_item, "struct<url:string,simhash:bigint>"),
    "url_pos": (_pos_item, "struct<url:string,pos:int>"),
}


@pytest.mark.parametrize("distinct", [True, False])
@pytest.mark.parametrize("kind", sorted(ITEM_KINDS))
def test_pairing_core_matches_reference_model(spark, kind, distinct):
    make_item, item_type = ITEM_KINDS[kind]
    rows = _bucket_rows(make_item)
    df = spark.createDataFrame(
        [(k[0], k[1], it) for k, it in rows], f"bh bigint, bi int, item {item_type}"
    )
    got = sorted(
        (r.l, r.r) if kind == "string" else (tuple(r.l), tuple(r.r))
        for r in lsh._skewcapped_pairs(df, ["bh", "bi"], CAP, distinct=distinct).collect()
    )
    want = _ref_pairs(rows, CAP, distinct)
    assert got == want
    # the fixture reaches both regimes: the far-over-cap bucket is chained,
    # not all-paired, and the twin bucket repeats its pairs
    url = (lambda it: it) if kind == "string" else (lambda it: it[0])
    hot = [p for p in want if url(p[0]).startswith("u05-")]
    assert len(hot) == lsh.NEIGHBOR_K * 1000 - 6
    if not distinct:
        assert len(want) > len(set(want))


@contextmanager
def _job_group(sc):
    gid = f"pairing-core-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(gid))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_candidate_pairs_builds_without_jobs_or_cache(spark):
    """No materializing count and no persist: building the candidate-pair
    frame issues no Spark job, and its plan reads no cached relation."""
    docs = spark.createDataFrame(
        [(f"u{i:03d}", [i % 7, i % 5, 99]) for i in range(40)],
        "url string, bands array<bigint>",
    )
    with _job_group(spark.sparkContext) as jobs:
        pairs = lsh.candidate_pairs(docs)
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        assert jobs() == [], "building candidate_pairs ran a Spark job"
        assert "InMemoryRelation" not in plan
        # the check is not vacuous: an action in the same group is seen
        n = pairs.count()
        assert jobs(), "job-group tracking saw no job for an action"
    # band 2 holds all 40 docs (value 99) but is under the default cap
    assert n == 40 * 39 // 2


def test_second_get_spark_runs_no_prewarm_job(spark):
    from bigtrees_spark.session import get_spark

    with _job_group(spark.sparkContext) as jobs:
        again = get_spark(
            cores=spark.sparkContext.defaultParallelism,
            app_name="bigtrees_spark_tests",
        )
        assert again.sparkContext is spark.sparkContext
        assert jobs() == [], "a get_spark hit on a live session ran a job"
