"""Run scope: one owner for what a run creates and measures.

Reference analog: .bigtree files carry a JSON Header (scan provenance) and a
Footer (scanEnd) around the scan body — the reference's lib/System/Directory/
BigTrees/HeadFoot.hs:66-75,115-119.  Here `RunScope.report()` is that
header and footer around the run's body, read from Spark's live status store:
one row per Spark stage the run executed, the skew of every capped pairing
stage, and the cache footprint.  `parse_header` round-trips the header.

Change detection and resume are NOT kept here: plans/incremental.py owns
them, with its digests table as the commit point (state layout, chunking and
compaction are described there).  A killed incremental_run resumes from the
last digests commit; no per-bucket completion rows are recorded.
"""

from __future__ import annotations

import json
import platform
import re
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F

# HeadFoot.hs:66-75 analog: the JSON provenance header.  scan_start is POSIX
# seconds (`round . utcTimeToPOSIXSeconds`, HeadFoot.hs:51-52).
HEADER_SCHEMA = (
    "run_id string, config_hash string, app_version string, "
    "scan_start long, system string"
)


def parse_header(spark: SparkSession, header: str) -> DataFrame:
    """Round-trip a header_json() string back to columns (from_json,
    SURVEY §2.9 'JSON encode/decode of Header' row)."""
    return (
        spark.createDataFrame([(header,)], "j string")
        .select(F.from_json("j", HEADER_SCHEMA).alias("h"))
        .select("h.*")
    )


class RunScope:
    """`with RunScope(spark, name) as rs:` — the one run-scoped object that
    operators take as `rs=`.

    * Ownership: `rs.persist(df)` and `rs.checkpoint(df)` register a handle;
      `release(df)` frees one early and `close()` (idempotent; the `with`
      exit) frees every one still held.  A checkpoint has no lineage to fall
      back on: a frame that reads a released checkpoint fails with
      CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  A distributed connected_components
      result reads the scope's last star-round checkpoint, so consume it
      (count, write, collect) before close().
    * Stages: `with rs.stage("pairing"):` tags every Spark job started inside
      it (SparkContext job tags: additive, no job group is set, so a
      caller's job group still applies).
    * Skew: `rs.skew(name, cap, sizes)` keeps a lazy bucket-size frame; its
      one aggregate job runs only inside report().
    * Report: `rs.report()` is a JSON-able dict built from the status store
      Spark keeps for every application (live with the UI disabled, no event
      log needed).  It covers every job started while the scope is open.
    """

    def __init__(self, spark: SparkSession, name: str = "run", config_hash: str | None = None):
        from bigtrees_spark import __version__

        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.header = {
            "run_id": self.run_id,
            "name": name,
            "config_hash": config_hash,
            "app_version": __version__,
            "scan_start": int(time.time()),
            "system": platform.platform(),
        }
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()
        # job and stage ids are allocated in submission order: the scope's
        # jobs are the ids allocated between open and close
        self._first_job = self._dag.numTotalJobs()
        self._first_stage = self._dag.nextStageId()
        self._end: tuple[int, float] | None = None  # (job watermark, scan_end)
        self._handles: list[tuple[DataFrame, object, bool]] = []  # (df, free, is_ckpt)
        self._skew: list[tuple[str, int, DataFrame]] = []
        self._spans: list[tuple[str, int, int, float]] = []
        self._active: dict[str, int] = {}  # stage -> nesting count
        self._depth: dict[str, int] = {}   # stage -> nesting depth at first entry
        self._excluded: set[int] = set()   # report()'s own jobs

    def __enter__(self) -> "RunScope":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # ---- ownership -------------------------------------------------------

    def persist(self, df: DataFrame) -> DataFrame:
        """df.persist(), released by close() (or release(df))."""
        df = df.persist()
        self._handles.append((df, df.unpersist, False))
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager df.localCheckpoint(), released by close() (or release)."""
        df = df.localCheckpoint()
        # the checkpointed RDD sits under the frame's LogicalRDD leaf
        rdd = df._jdf.queryExecution().analyzed().rdd()
        self._handles.append((df, lambda: rdd.unpersist(False), True))
        return df

    def release(self, df: DataFrame) -> None:
        """Free one handle now; a frame the scope does not hold is ignored."""
        for i, (h, free, _) in enumerate(self._handles):
            if h is df:
                del self._handles[i]
                free()
                return

    def close(self, keep_checkpoints: bool = False) -> None:
        """Release every handle still held, newest first.  With
        keep_checkpoints the checkpoints are dropped from the scope without
        being freed — Spark's ContextCleaner frees them once the frames that
        read them are garbage (for an unscoped call whose result reads one)."""
        if self._end is None:
            self._end = (self._dag.numTotalJobs(), time.time())
        while self._handles:
            _, free, is_ckpt = self._handles.pop()
            if not (keep_checkpoints and is_ckpt):
                free()

    # ---- stages and skew -------------------------------------------------

    def _tag(self, stage: str) -> str:
        return f"bigtrees-{self.run_id}-{stage}"

    @contextmanager
    def stage(self, name: str):
        """Tag the Spark jobs started inside the block with `name`; a job
        inside nested stages reports the innermost."""
        n = self._active.get(name, 0)
        self._depth.setdefault(name, sum(1 for v in self._active.values() if v))
        if n == 0:
            self._sc.addJobTag(self._tag(name))
        self._active[name] = n + 1
        lo, t0 = self._dag.numTotalJobs(), time.perf_counter()
        try:
            yield
        finally:
            self._active[name] = n
            if n == 0:
                self._sc.removeJobTag(self._tag(name))
            self._spans.append((name, lo, self._dag.numTotalJobs(), time.perf_counter() - t0))

    def skew(self, name: str, cap: int, sizes: DataFrame) -> None:
        """Register a capped pairing stage's lazy (keys..., bsz) bucket-size
        frame; report() turns it into one skew entry."""
        self._skew.append((name, int(cap), sizes))

    def _skew_entry(self, name: str, cap: int, sizes: DataFrame) -> dict:
        # n_buckets counts multi-occupancy buckets (the ones that can pair).
        # AQE would submit each of this aggregate's two shuffles as its own
        # job; planned without it (a session conf, restored below) the
        # aggregate is one job
        conf = self.spark.conf
        aqe = conf.get("spark.sql.adaptive.enabled")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            (row,) = sizes.where("bsz > 1").agg(
                F.count("*").alias("n_buckets"),
                F.sum((F.col("bsz") > cap).cast("long")).alias("n_overcap"),
                F.max("bsz").alias("max_bucket"),
                F.percentile_approx("bsz", 0.95).alias("p95_bucket"),
            ).collect()
        finally:
            conf.set("spark.sql.adaptive.enabled", aqe)
        stats = {k: int(v or 0) for k, v in row.asDict().items()}
        return {"run_id": self.run_id, "stage": name, "cap": cap, **stats,
                "finished": time.time()}

    # ---- report ----------------------------------------------------------

    def header_json(self) -> str:
        """Scan-provenance header as one JSON string (see parse_header):
        which program version and config produced a table, started when, on
        what system."""
        return json.dumps({k: self.header[k] for k in
                           ("run_id", "config_hash", "app_version", "scan_start", "system")})

    def report(self) -> dict:
        """The run report: header, footer, one row per Spark stage the scope
        completed, one span per `stage()` entry, skew entries and the cache
        footprint.  Runs one Spark job per registered skew frame and none
        otherwise.  `truncated` is true when status-store retention
        (spark.ui.retainedJobs/Stages) already dropped some of the scope's
        jobs."""
        hi, scan_end = self._end or (self._dag.numTotalJobs(), time.time())
        lo = self._dag.numTotalJobs()
        skew = [self._skew_entry(*s) for s in self._skew]
        self._excluded.update(range(lo, self._dag.numTotalJobs()))
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        depth = {self._tag(s): (d, s) for s, d in self._depth.items()}
        jobs, stages, seen, missing = [], [], set(), 0
        for jid in range(self._first_job, hi):
            if jid in self._excluded:
                continue
            try:
                job = store.job(jid)
            except Py4JJavaError:  # dropped by retention
                missing += 1
                continue
            jobs.append(jid)
            tags = [depth[t] for t in job.jobTags().mkString(",").split(",") if t in depth]
            tag = max(tags)[1] if tags else None
            for sid in map(int, filter(None, job.stageIds().mkString(",").split(","))):
                # a stage listed by a later job too (a reused shuffle) is
                # reported once, under the first job; stages created before
                # the scope opened are not the scope's
                if sid in seen or sid < self._first_stage:
                    continue
                seen.add(sid)
                row = self._stage_row(store, sid)
                if row is not None:
                    stages.append({"job_id": jid, "tag": tag, **row})
        return {
            "header": dict(self.header),
            "footer": {"scan_end": scan_end},
            "job_ids": jobs,
            "truncated": missing > 0,
            "stages": stages,
            "spans": [self._span(s, stages) for s in self._spans],
            "skew": skew,
            "cache": self._cache_footprint(),
        }

    def _stage_row(self, store, sid: int) -> dict | None:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # dropped by retention
            return None
        if st.status().toString() != "COMPLETE":  # skipped: a reused shuffle
            return None
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(sid, st.attemptId(), q)
        p50 = mx = None
        if summary.isDefined():
            d = summary.get().duration()
            p50, mx = d.apply(0) / 1e3, d.apply(1) / 1e3
        dot = gw.jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(
            store.operationGraphForStage(sid)
        )
        ops = []
        for label in re.findall(r'label="([^"<]+)";', dot):
            op = re.sub(r" \(\d+\)$", "", label.strip())
            if not op.startswith("Stage ") and op not in ops:
                ops.append(op)
        return {
            "stage_id": sid,
            "ops": ops,
            "wall_s": (st.completionTime().get().getTime()
                       - st.submissionTime().get().getTime()) / 1e3,
            "tasks": st.numTasks(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "task_p50_s": p50,
            "task_max_s": mx,
        }

    @staticmethod
    def _span(span: tuple, stages: list[dict]) -> dict:
        stage, lo, hi, wall = span
        rows = [r for r in stages if lo <= r["job_id"] < hi]
        return {
            "stage": stage,
            "wall_s": wall,
            "jobs": hi - lo,
            "shuffle_read_bytes": sum(r["shuffle_read_bytes"] for r in rows),
            "shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in rows),
        }

    def _cache_footprint(self) -> dict:
        """Cached RDDs of the whole application, and the handles this scope
        still holds."""
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return {
            "handles": len(self._handles),
            "rdds": len(infos),
            "memory_bytes": sum(i.memSize() for i in infos),
            "disk_bytes": sum(i.diskSize() for i in infos),
        }
