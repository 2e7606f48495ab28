"""Per-layer metrics of the traced run.

Sources, all outside the engine:
  * spans from the wrappers in spans.py (per-call wall time);
  * counts taken right after each leg, untimed, under job group ``post``
    (rows out of candidate_pairs / verify_pairs / connected_components,
    changed buckets, bytes the sink wrote, stream progress);
  * the session's event log (eventlog.py) for task metrics per rep;
  * StatusTracker job ids per job group, to check that tracing adds no job;
  * two probes after the reps: a trivial 64-task pandas-UDF stage (the per
    task Python floor) and the numpy kernels timed single-core, no Spark,
    on a fixed 500-doc sample.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import eventlog
import queries
import spans as spans_mod

MB = 1e6

UNITS = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "driver.idle_s": "s", "driver.jobs_per_op": "count",
    "kernels.fingerprint_row_us": "us", "kernels.tokenize_us": "us",
    "kernels.minhash_us": "us", "kernels.winnow_us": "us",
    "udf.task_floor_ms": "ms", "udf.python_run_s": "s", "udf.python_start_s": "s",
    "udf.bytes_to_python_mb": "MB",
    "lsh.candidate_pairs_s": "s", "lsh.verify_pairs_s": "s", "lsh.candidates": "count",
    "lsh.edges": "count", "lsh.verify_yield": "ratio",
    "cc.connected_components_s": "s", "cc.edges_in": "count", "cc.components": "count",
    "pipeline.call_s": "s", "pipeline.clusters_count_s": "s",
    "suite.exact_dupes_report_s": "s",
    "suite.digest_tree_s": "s", "suite.ann_topk_s": "s",
    "suite.textstats_profile_s": "s",
    "incremental.run_s": "s", "incremental.buckets_changed_ratio": "ratio",
    "incremental.rows_refingerprinted": "count", "sinks.commit_snapshot_s": "s",
    "sinks.bytes_written_mb": "MB",
    "stream.trigger_s": "s", "stream.add_batch_s": "s", "stream.query_planning_s": "s",
    "stream.state_commit_s": "s", "stream.state_rows": "count", "stream.state_mb": "MB",
    "stream.raw_edge_rows": "count", "stream.edge_yield": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "check.twin_recall": "ratio", "check.fp_agreement": "ratio",
    "trace.overhead_pct": "%", "trace.coverage_pct": "%",
}

# span name -> layer metric holding its summed wall time per rep
SPAN_METRICS = {
    "lsh.candidate_pairs": "lsh.candidate_pairs_s",
    "lsh.verify_pairs": "lsh.verify_pairs_s",
    "cc.connected_components": "cc.connected_components_s",
    "pipeline.call": "pipeline.call_s",
    "pipeline.clusters_count": "pipeline.clusters_count_s",
    "incremental.run": "incremental.run_s",
    "sinks.commit_snapshot": "sinks.commit_snapshot_s",
    **{f"suite.{q}": f"suite.{q}_s" for q in queries.QUERIES},
}


def make_tracer(sc) -> spans_mod.Tracer:
    """Tracer with the engine's public entry points wrapped."""
    from bigtrees_spark.operators import cc, lsh
    from bigtrees_spark.plans import incremental, pipeline
    from bigtrees_spark.sinks import SnapshotSink
    from bigtrees_spark.streaming import neardup

    tr = spans_mod.Tracer(sc)
    tr.install(
        [
            (pipeline, "near_dedup_pipeline", "pipeline.call"),
            (lsh, "candidate_pairs", "lsh.candidate_pairs"),
            (lsh, "verify_pairs", "lsh.verify_pairs"),
            (cc, "connected_components", "cc.connected_components"),
            (incremental, "incremental_run", "incremental.run"),
            (SnapshotSink, "commit_snapshot", "sinks.commit_snapshot"),
            (neardup, "neardup_edges_stream", "stream.build"),
        ]
        + [(queries, q, f"suite.{q}") for q in queries.QUERIES]
    )
    tr.capture = {"lsh.candidate_pairs", "lsh.verify_pairs", "cc.connected_components"}
    return tr


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def post_counts(ctx, tracer):
    """post(leg, out) -> layer counts of the leg just timed (untimed)."""
    import legs
    from pyspark.sql import functions as F

    def post(leg, out) -> dict:
        vals: dict = {}
        for name, args, res in tracer.captured:
            if name == "lsh.candidate_pairs":
                vals["lsh.candidates"] = vals.get("lsh.candidates", 0) + res.count()
            elif name == "lsh.verify_pairs":
                vals["lsh.edges"] = vals.get("lsh.edges", 0) + res.count()
            elif name == "cc.connected_components":
                vals["cc.edges_in"] = vals.get("cc.edges_in", 0) + args[0].count()
                vals["cc.components"] = vals.get("cc.components", 0) + (
                    res.select("cluster_id").distinct().count())
        tracer.captured.clear()
        spark = ctx.spark
        if isinstance(leg, legs.Resnapshot):
            from bigtrees_spark.operators.digest import bucket_of

            old = spark.read.parquet(ctx.path("inc_state_v1", "digests")).alias("o")
            new = spark.read.parquet(ctx.path("inc_state", "digests")).alias("n")
            changed = new.join(old, "bucket", "left").where(
                F.col("o.state_digest").isNull()
                | (F.col("o.state_digest") != F.col("n.state_digest"))).select("bucket")
            vals["incremental.rows_refingerprinted"] = (
                spark.read.parquet(ctx.path("inc_v2"))
                .withColumn("bucket", bucket_of("url", leg.N_BUCKETS))
                .join(changed, "bucket", "left_semi").count())
            vals["incremental.buckets_changed_ratio"] = out.n_buckets_changed / out.n_buckets_total
            vals["sinks.bytes_written_mb"] = _du_mb(ctx.path("inc_state"))
        elif isinstance(leg, legs.StreamNearDup):
            prog = [p for p in _progress(out) if p.get("numInputRows", 0) > 0]
            dur = [p.get("durationMs", {}) for p in prog]
            state = [p.get("stateOperators", []) for p in prog]

            def mean_s(key):
                return statistics.mean(d.get(key, 0) for d in dur) / 1000 if dur else 0.0

            vals["stream.trigger_s"] = mean_s("triggerExecution")
            vals["stream.add_batch_s"] = mean_s("addBatch")
            vals["stream.query_planning_s"] = mean_s("queryPlanning")
            vals["stream.state_commit_s"] = (
                statistics.mean(sum(o.get("commitTimeMs", 0) for o in s) for s in state) / 1000
                if state else 0.0)
            if state:
                vals["stream.state_rows"] = sum(o.get("numRowsTotal", 0) for o in state[-1])
                vals["stream.state_mb"] = sum(o.get("memoryUsedBytes", 0) for o in state[-1]) / MB
            sink = spark.read.parquet(ctx.path("stream_sink"))
            raw = sink.count()
            vals["stream.raw_edge_rows"] = raw
            vals["stream.edge_yield"] = (
                sink.select("url_l", "url_r").distinct().count() / raw if raw else 0.0)
        return vals

    return post


def probes(ctx) -> dict:
    """Per-task Python floor and single-core kernel costs."""
    from pyspark.sql import functions as F

    import corpus
    from bigtrees_spark.config import DEFAULT_CONFIG as cfg
    from bigtrees_spark.functions import kernels, spark_udfs
    from spans import GROUP_PROP

    sc = ctx.spark.sparkContext

    @F.pandas_udf("int")
    def _trivial(s):  # pragma: no cover — runs on workers
        return s.astype("int32") * 0

    sc.setLocalProperty(GROUP_PROP, "probe.udf_floor")
    for _ in range(3):
        ctx.spark.range(0, 64, 1, 64).select(_trivial("id")).write.format("noop").mode(
            "overwrite").save()
    sc.setLocalProperty(GROUP_PROP, None)

    texts = corpus.base_docs(500, seed=0)["text"].tolist()
    a, b = cfg.minhash_coeffs()
    shingles = [kernels.shingle_hashes(kernels.tokenize(t), cfg.shingle_k) for t in texts]
    kern = {
        "kernels.tokenize_us": lambda: [kernels.tokenize(t) for t in texts],
        "kernels.minhash_us": lambda: [kernels.minhash_signature(s, a, b) for s in shingles],
        "kernels.fingerprint_row_us": lambda: [
            spark_udfs.fingerprint_row(t, cfg, False, a, b) for t in texts],
        "kernels.winnow_us": lambda: [kernels.winnow_fingerprints(t, cfg) for t in texts],
    }
    out = {}
    for name, fn in kern.items():
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls) / len(texts) * 1e6
    return out


def job_counts(spark, reps: list[dict], tracer) -> list[int]:
    """Spark jobs each rep issued, from StatusTracker job ids of the rep's
    job groups (its base group, every span group, and the groups Spark
    gives the micro-batch jobs of a stream: its run id)."""
    st = spark.sparkContext.statusTracker()
    out = []
    for r in reps:
        groups = {r["group"]}
        if tracer is not None:
            groups |= {s.group for s in tracer.spans if s.trace_id == r["group"]}
        for lr in r["legs"]:
            groups |= set(lr["groups"])
        out.append(sum(len(st.getJobIdsForGroup(g)) for g in groups))
    return out


def _rep_groups(r: dict, log: eventlog.EventLog) -> eventlog.GroupStats:
    extra = {g for lr in r["legs"] for g in lr["groups"]}
    g0 = r["group"]
    return eventlog.merge(log.select(lambda gid: gid == g0 or gid.startswith(g0 + "/")
                                     or gid in extra))


def layer_metrics(log_path, reps, untraced, tracer, session_s, warmup_s, probe, jobs) -> dict:
    log = eventlog.parse_file(log_path)
    self_t = spans_mod.self_times(tracer.spans)
    per_rep: list[dict] = []
    for i, r in enumerate(reps):
        m = {name: 0.0 for name in UNITS}
        rs = [s for s in tracer.spans if s.trace_id == r["group"]]
        for s in rs:
            if s.name in SPAN_METRICS:
                m[SPAN_METRICS[s.name]] += s.dur
        covered = 0.0
        g = _rep_groups(r, log)
        busy = 0.0
        for lr in r["legs"]:
            top = [(s.start, s.end) for s in rs if s.parent is None]
            covered += spans_mod.union_length(top, lr["start"], lr["end"])
            busy += spans_mod.union_length(
                [(a / 1000, b / 1000) for a, b in g.job_intervals], lr["start"], lr["end"])
            for k, v in lr.get("layer", {}).items():
                if k in m:
                    m[k] += v
            chk = lr["check"]
            if "twin_recall" in chk:
                m["check.twin_recall"] = chk["twin_recall"]
            if "fp_agreement" in chk:
                m["check.fp_agreement"] = chk["fp_agreement"]
        m["trace.coverage_pct"] = 100 * covered / r["wall"]
        m["driver.idle_s"] = r["wall"] - busy
        m["driver.jobs_per_op"] = jobs[i]
        m["lsh.verify_yield"] = m["lsh.edges"] / m["lsh.candidates"] if m["lsh.candidates"] else 0.0
        m.update({
            "spark.jobs": g.jobs, "spark.tasks": g.tasks, "spark.failed_tasks": g.failed_tasks,
            "spark.executor_run_s": g.executor_run_ms / 1000,
            "spark.executor_cpu_s": g.executor_cpu_ns / 1e9, "spark.gc_s": g.gc_ms / 1000,
            "spark.shuffle_write_mb": g.shuffle_write_bytes / MB,
            "spark.shuffle_read_mb": g.shuffle_read_bytes / MB,
            "spark.spill_mb": g.spill_bytes / MB, "spark.task_skew": eventlog.task_skew(
                g.stage_task_ms),
            "udf.python_run_s": g.python_run_ms / 1000,
            "udf.python_start_s": g.python_start_ms / 1000,
            "udf.bytes_to_python_mb": g.python_sent_bytes / MB,
        })
        per_rep.append(m)
    out = {k: statistics.median(m[k] for m in per_rep) for k in UNITS}
    floor = log.groups.get("probe.udf_floor")
    out["udf.task_floor_ms"] = (
        statistics.median(w for ws in floor.stage_task_ms.values() for w in ws) if floor else 0.0)
    out.update(probe)
    out["session.get_spark_s"] = session_s
    out["session.warmup_s"] = warmup_s
    base = statistics.median(r["wall"] for r in untraced)
    out["trace.overhead_pct"] = 100 * (statistics.median(r["wall"] for r in reps) - base) / base
    res = {k: (v, UNITS[k]) for k, v in out.items()}
    res["_jobs_match"] = len(set(jobs)) == 1
    res["_self_times"] = self_t
    return res


def write_trace(path, tracer, reps, metrics, info) -> None:
    """Spans with self time, per-rep records and layer metrics, as JSON."""
    self_t = metrics.pop("_self_times")
    doc = {
        "info": info,
        "spans": [
            {"id": s.span_id, "name": s.name, "trace": s.trace_id, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": self_t[s.span_id]}
            for s in tracer.spans
        ],
        "reps": reps,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(path, "w") as f:
        json.dump(doc, f, default=str)
