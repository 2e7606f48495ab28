"""Checkpoint/resume on incremental_run: a killed job must not recompute
committed buckets, and a crash anywhere must leave a state that reads back
consistently (north_rule resumability; FIXTURES.md T4 test plan).

Evidence is the rows that reach the fingerprint stage: `probe` wraps
fingerprint_docs inside plans/incremental.py and records every url it is
handed.  `small_chunks` shrinks spark.sql.execution.arrow.maxRecordsPerBatch
for the test's duration, so a run over the 250-doc fixture is cut into
several chunks, each committed on its own."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigtrees_spark.config import DEFAULT_CONFIG
from bigtrees_spark.operators.digest import bucket_of
from bigtrees_spark.operators.fingerprint import fingerprint_docs
from bigtrees_spark.plans import incremental
from bigtrees_spark.plans.incremental import incremental_run
from bigtrees_spark.sinks import SnapshotSink

N_BUCKETS = 8
CHUNK_ROWS = 80  # about two buckets of the fixture per chunk


class Killed(Exception):
    """Stands in for the driver dying at that point."""


class Probe:
    """fingerprint_docs that records its input urls; with kill_after=k the
    (k+1)-th call dies before fingerprinting anything."""

    def __init__(self):
        self.urls: list[str] = []
        self.calls = 0
        self.kill_after: int | None = None

    def __call__(self, pages, cfg=DEFAULT_CONFIG):
        if self.calls == self.kill_after:
            raise Killed(f"killed after {self.calls} chunks")
        self.calls += 1
        self.urls += [r.url for r in pages.select("url").collect()]
        return fingerprint_docs(pages, cfg)

    def reset(self):
        self.urls, self.calls, self.kill_after = [], 0, None


class CrashingSink(SnapshotSink):
    """Dies on its n-th digests commit, after everything before it ran."""

    def __init__(self, spark, base, crash_at: int):
        super().__init__(spark, base)
        self.crash_at, self.n = crash_at, 0

    def commit_snapshot(self, df, name, partition_by=None):
        if name == "digests":
            self.n += 1
            if self.n == self.crash_at:
                raise Killed(f"crashed before digests commit {self.n}")
        super().commit_snapshot(df, name, partition_by)


@pytest.fixture()
def probe(monkeypatch):
    p = Probe()
    monkeypatch.setattr(incremental, "fingerprint_docs", p)
    return p


@pytest.fixture()
def small_chunks(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    per_slot = max(1, CHUNK_ROWS // spark.sparkContext.defaultParallelism)
    spark.conf.set(key, str(per_slot))
    yield
    spark.conf.set(key, prior)


def _urls(df) -> list[str]:
    return sorted(r.url for r in df.select("url").collect())


def _fp_rows(df) -> dict:
    """url -> hash of every fingerprint column; asserts urls are unique."""
    rows = df.select(
        "url",
        F.xxhash64("sha256", "minhash", "simhash", "bands", "shingles", "n_tokens").alias("h"),
    ).collect()
    out = {r.url: r.h for r in rows}
    assert len(out) == len(rows), "duplicate docs_fp rows"
    return out


def _file_mtimes(path: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(path)
        for f in fs
    }


def test_full_run_then_resume_is_noop(spark, pages, tmp_path, probe, small_chunks):
    state = str(tmp_path / "state")
    r1 = incremental_run(spark, pages, state, n_buckets=N_BUCKETS)
    assert probe.calls >= 3, "the fixture must span several chunks"
    assert sorted(probe.urls) == _urls(pages)  # every row fingerprinted once
    assert r1.docs_fp.count() == pages.count()
    before = _file_mtimes(state)

    probe.reset()
    r2 = incremental_run(spark, pages, state, n_buckets=N_BUCKETS)
    assert probe.urls == [] and r2.n_buckets_changed == 0
    assert _file_mtimes(state) == before  # no file written or rewritten
    assert _fp_rows(r2.docs_fp) == _fp_rows(fingerprint_docs(pages))


def test_partial_failure_recomputes_only_missing(spark, pages, tmp_path, probe, small_chunks):
    """A run killed after k chunks; the rerun fingerprints exactly the rows
    the killed run had not committed."""
    for k in (1, 2):
        state = str(tmp_path / f"state{k}")
        probe.reset()
        probe.kill_after = k
        with pytest.raises(Killed):
            incremental_run(spark, pages, state, n_buckets=N_BUCKETS)
        done = set(probe.urls)
        assert done and len(probe.urls) == len(done)

        probe.reset()
        r = incremental_run(spark, pages, state, n_buckets=N_BUCKETS)
        assert sorted(probe.urls) == sorted(set(_urls(pages)) - done)
        assert _fp_rows(r.docs_fp) == _fp_rows(fingerprint_docs(pages))


def test_crash_between_append_and_digests_commit_no_duplicates(
    spark, pages, tmp_path, probe, small_chunks
):
    """Chunk 2's rows are appended to docs_fp, then the run dies before the
    digests commit that would make them live: they stay dead, the rerun
    recomputes them, and no row is duplicated."""
    state = str(tmp_path / "state")
    with pytest.raises(Killed):
        incremental_run(spark, pages, state, n_buckets=N_BUCKETS, sink=CrashingSink(spark, state, 2))
    assert probe.calls == 2
    on_disk = spark.read.parquet(os.path.join(state, "docs_fp"))
    assert _urls(on_disk) == sorted(probe.urls)  # both chunks' rows were written
    committed = [r.bucket for r in spark.read.parquet(os.path.join(state, "digests")).collect()]
    kept = set(_urls(pages.where(bucket_of("url", N_BUCKETS).isin(committed))))
    assert 0 < len(kept) < len(probe.urls)

    probe.reset()
    r = incremental_run(spark, pages, state, n_buckets=N_BUCKETS)
    assert sorted(probe.urls) == sorted(set(_urls(pages)) - kept)
    assert r.docs_fp.count() == pages.count()
    assert _fp_rows(r.docs_fp) == _fp_rows(fingerprint_docs(pages))


def test_config_hash_mismatch_forces_recompute(
    spark, pages, tmp_path, probe, small_chunks
):
    """Provenance gate (HeadFoot.hs header-provenance analog): a run killed
    under config A, then rerun under config B, reuses none of A's buckets."""
    import dataclasses

    cfg_b = dataclasses.replace(DEFAULT_CONFIG, shingle_k=7)
    assert DEFAULT_CONFIG.config_hash() != cfg_b.config_hash()

    state = str(tmp_path / "state")
    probe.kill_after = 2
    with pytest.raises(Killed):
        incremental_run(spark, pages, state, n_buckets=N_BUCKETS)
    assert probe.urls

    probe.reset()
    r = incremental_run(spark, pages, state, n_buckets=N_BUCKETS, cfg=cfg_b)
    assert sorted(probe.urls) == _urls(pages)
    assert r.n_buckets_changed == r.n_buckets_total == N_BUCKETS
    assert _fp_rows(r.docs_fp) == _fp_rows(fingerprint_docs(pages, cfg_b))


def test_crash_before_final_digests_commit_then_rerun_old_snapshot(spark, pages, corpus, tmp_path):
    """Run v1; run v2 and die after docs_fp is rewritten but before digests
    commit; rerun over v1.  The committed digests still describe v1, so the
    rerun must return v1's fingerprints — not the rewritten v2 rows."""
    from bigtrees_spark.sources.fixtures import corpus_to_spark, derive_snapshot_v2

    state = str(tmp_path / "state")
    incremental_run(spark, pages, state, n_buckets=16)
    v2 = corpus_to_spark(spark, derive_snapshot_v2(corpus, seed=43)[0])
    with pytest.raises(Killed):
        incremental_run(spark, v2, state, n_buckets=16, sink=CrashingSink(spark, state, 1))

    r = incremental_run(spark, pages, state, n_buckets=16)
    assert r.n_buckets_changed == 0
    assert _fp_rows(r.docs_fp) == _fp_rows(fingerprint_docs(pages))
    # and the interrupted change still lands when v2 is run again
    r2 = incremental_run(spark, v2, state, n_buckets=16)
    assert _fp_rows(r2.docs_fp) == _fp_rows(fingerprint_docs(v2))


def test_header_json_round_trip(spark):
    """HeadFoot.hs:66-75 analog: provenance header JSON round-trips."""
    from bigtrees_spark import __version__
    from bigtrees_spark.plans.runmeta import RunScope, parse_header

    with RunScope(spark, "header", config_hash="cafe") as rs:
        j = rs.header_json()
    h = parse_header(spark, j).first()
    assert h.run_id == rs.run_id
    assert h.config_hash == "cafe"
    assert h.app_version == __version__
    assert h.scan_start > 1_700_000_000  # POSIX seconds, not ms/null
    assert h.system  # non-empty platform string
