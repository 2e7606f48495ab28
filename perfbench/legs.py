"""Timed legs and the workloads built from them.

A leg is one operation on the engine: ``stage`` writes its inputs (timed as
set-up), ``before`` resets state untimed, ``run`` is the timed call,
``check`` verifies the output untimed (a dict whose ``ok`` is the verdict)
and ``after`` releases caches.  A workload's timed operation runs its legs back
to back; every call into the engine goes through the module attribute, so
the traced run's wrappers see it.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field

import corpus
import queries


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    tracer: object = None  # spans.Tracer in the traced run
    group: str = ""  # job group of the rep in progress
    round: int = 0  # set-up round in progress

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _write_parquet(pdf, path: str, parts: int) -> None:
    """pdf as ``parts`` parquet files under path, written without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-len(pdf) // parts)
    for i in range(parts):
        chunk = pdf.iloc[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))


class Leg:
    name = ""
    items = 0  # docs (or vectors) the timed call reads

    def before(self, ctx: Ctx) -> None:
        pass

    def after(self, ctx: Ctx, out) -> None:
        pass

    def job_groups(self, out) -> list[str]:
        """Job groups, besides the rep's own, that Spark puts this leg's jobs in."""
        return []


class NearDedup(Leg):
    """near_dedup_pipeline over the 16-variant derived corpus.  The staged
    input is the base table; like the headline scaling run, the timed op
    derives the variants and twins from it (a cheap JVM projection) and
    then runs the pipeline."""

    def __init__(self, n_base: int, n_variants: int = corpus.N_VARIANTS):
        self.n_base, self.n_variants = n_base, n_variants
        self.name = "pipeline"
        self.items = 2 * n_base * n_variants

    def stage(self, ctx: Ctx) -> None:
        base = corpus.base_docs(self.n_base, ctx.seed)
        self.perms = corpus.variant_perms(ctx.seed, self.n_variants)
        self.pairs = corpus.twin_pairs(base, self.n_variants)
        _write_parquet(base[["doc_id", "text", "twin"]], ctx.path("neardup_base"), ctx.cores)

    def run(self, ctx: Ctx):
        from bigtrees_spark.plans import pipeline

        pages = corpus.derived_corpus(
            ctx.spark, ctx.spark.read.parquet(ctx.path("neardup_base")), self.perms)
        # the derivation already spreads rows over 4x the cores
        res = pipeline.near_dedup_pipeline(pages, pre_partitioned=True)
        with ctx.span("pipeline.clusters_count"):
            self.n_rows = res.clusters.count()
        return res

    def check(self, ctx: Ctx, res) -> dict:
        cl = res.clusters.toPandas()
        label = dict(zip(cl["url"], cl["cluster_id"]))
        hit = sum(label.get(a) is not None and label.get(a) == label.get(b) for a, b in self.pairs)
        recall = hit / len(self.pairs)
        ok = recall == 1.0 and self.n_rows == self.items == len(label)
        return {"ok": ok, "twin_recall": recall}

    def after(self, ctx: Ctx, res) -> None:
        res.unpersist()


class SuiteQuery(Leg):
    """One suite query over the staged documents and embeddings tables."""

    def __init__(self, qname: str, inputs: "SuiteInputs"):
        self.qname, self.inputs = qname, inputs
        self.name = f"suite.{qname}"
        self.items = inputs.n_vectors if qname == "ann_topk" else 2 * inputs.n_base

    def stage(self, ctx: Ctx) -> None:
        self.inputs.stage(ctx)

    def run(self, ctx: Ctx):
        return getattr(queries, self.qname)(ctx.spark, self.inputs.paths)

    def check(self, ctx: Ctx, n: int) -> dict:
        return {"ok": n == self.inputs.expected[self.qname], "rows": n}


@dataclass
class SuiteInputs:
    """documents + embeddings tables shared by the suite queries; staged once
    per set-up round."""

    n_base: int
    n_vectors: int
    dim: int = 64
    paths: dict = field(default_factory=dict)
    expected: dict = field(default_factory=dict)
    _round: int = -1

    def stage(self, ctx: Ctx) -> None:
        if self._round == ctx.round:  # already staged in this set-up round
            return
        base = corpus.base_docs(self.n_base, ctx.seed)
        self.paths = {"docs": ctx.path("suite_docs"), "emb": ctx.path("suite_emb")}
        _write_parquet(base[["doc_id", "text"]], self.paths["docs"], ctx.cores)
        _write_parquet(corpus.embeddings(self.n_vectors, self.dim, ctx.seed), self.paths["emb"],
                       ctx.cores)
        self.expected = queries.expected_counts(base, self.n_vectors)
        self._round = ctx.round


class Resnapshot(Leg):
    """incremental_run on snapshot v2 against restored v1 state: 1 % of docs
    edited, picked uniformly by a seeded url hash."""

    N_BUCKETS = 64
    CHURN = 0.01

    def __init__(self, n_base: int):
        self.n_base = n_base
        self.name = "incremental"
        self.items = 2 * n_base

    def stage(self, ctx: Ctx) -> None:
        v1 = corpus.flat_corpus(corpus.base_docs(self.n_base, ctx.seed))
        v2 = v1.copy()
        edited = corpus.churn_mask(v2["url"], ctx.seed, self.CHURN)
        v2.loc[edited, "text"] = [corpus.edit_text(t) for t in v2.loc[edited, "text"]]
        _write_parquet(v1, ctx.path("inc_v1"), ctx.cores)
        _write_parquet(v2, ctx.path("inc_v2"), ctx.cores)
        shutil.rmtree(ctx.path("inc_state_v1"), ignore_errors=True)
        self.reference = None

    def before(self, ctx: Ctx) -> None:
        # the v1 snapshot state is made once per run, by the engine, before
        # the first (warm-up) rep; every rep starts from a copy of it
        if not os.path.exists(ctx.path("inc_state_v1")):
            from bigtrees_spark.plans import incremental

            incremental.incremental_run(ctx.spark, ctx.spark.read.parquet(ctx.path("inc_v1")),
                                        ctx.path("inc_state_v1"), n_buckets=self.N_BUCKETS)
        shutil.rmtree(ctx.path("inc_state"), ignore_errors=True)
        shutil.copytree(ctx.path("inc_state_v1"), ctx.path("inc_state"))

    def run(self, ctx: Ctx):
        from bigtrees_spark.plans import incremental

        return incremental.incremental_run(
            ctx.spark, ctx.spark.read.parquet(ctx.path("inc_v2")), ctx.path("inc_state"),
            n_buckets=self.N_BUCKETS,
        )

    @staticmethod
    def _fp_keys(df) -> dict:
        from pyspark.sql import functions as F

        rows = df.select(
            "url", F.xxhash64("sha256", "minhash", "bands", "shingles", "n_tokens").alias("h")
        ).toPandas()
        return dict(zip(rows["url"], rows["h"]))

    def check(self, ctx: Ctx, res) -> dict:
        if self.reference is None:  # from-scratch fingerprint of v2, once per run
            from bigtrees_spark.operators.fingerprint import fingerprint_docs

            self.reference = self._fp_keys(fingerprint_docs(ctx.spark.read.parquet(
                ctx.path("inc_v2"))))
        got = self._fp_keys(res.docs_fp)
        agree = sum(got.get(u) == h for u, h in self.reference.items())
        share = agree / len(self.reference)
        return {"ok": share == 1.0 and len(got) == len(self.reference), "fp_agreement": share,
                "buckets_changed": res.n_buckets_changed, "buckets_total": res.n_buckets_total}


class StreamNearDup(Leg):
    """neardup_edges_stream, availableNow with maxFilesPerTrigger=1, over
    pre-staged files: file 2i holds ``per_file`` docs, file 2i+1 their twins."""

    def __init__(self, per_file: int, n_batches: int):
        self.per_file, self.n_batches = per_file, n_batches
        self.name = "stream"
        self.items = 2 * per_file * n_batches

    def stage(self, ctx: Ctx) -> None:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        # a dedicated draw: fixed lengths, and too few docs for copies
        pick = corpus.base_docs(self.per_file * self.n_batches, ctx.seed + 1_000_003)
        src = ctx.path("stream_src")
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
        ts = pd.Timestamp("2024-01-01", tz="UTC")
        self.pairs = set()
        for b in range(self.n_batches):
            chunk = pick.iloc[b * self.per_file:(b + 1) * self.per_file]
            for k, (prefix, col) in enumerate((("d", "text"), ("t", "twin"))):
                urls = [f"{prefix}{i:08d}" for i in chunk["doc_id"]]
                tbl = pa.table({"url": urls, "warc_ts": [ts] * len(urls), "html": [b""] * len(urls),
                                "text": chunk[col].tolist(), "lang": ["en"] * len(urls)},
                               schema=schema)
                f = os.path.join(src, f"part-{2 * b + k:05d}.parquet")
                pq.write_table(tbl, f)
                os.utime(f, (1_700_000_000 + 2 * b + k,) * 2)  # file source orders by mtime
            self.pairs |= {(f"d{i:08d}", f"t{i:08d}") for i in chunk["doc_id"]}

    def before(self, ctx: Ctx) -> None:
        for d in ("stream_ckpt", "stream_sink"):
            shutil.rmtree(ctx.path(d), ignore_errors=True)

    def run(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from bigtrees_spark.streaming import neardup
        from bigtrees_spark.streaming.ingest import WEB_PAGES_DDL
        from spans import GROUP_PROP

        sink = ctx.path("stream_sink")

        group = ctx.group

        def write_batch(df, batch_id):
            # runs on a callback thread: tag its jobs with the rep's group
            df.sparkSession.sparkContext.setLocalProperty(GROUP_PROP, group)
            df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

        spark = ctx.spark
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        # state-store task count: the stateful operator opens one store per
        # partition every trigger, so it is sized to the cores, not the
        # batch default (the operator's own guidance)
        spark.conf.set("spark.sql.shuffle.partitions", str(2 * ctx.cores))
        try:
            src = (spark.readStream.schema(WEB_PAGES_DDL).option("maxFilesPerTrigger", 1)
                   .parquet(ctx.path("stream_src")))
            edges = neardup.neardup_edges_stream(src)
            with ctx.span("stream.run"):
                q = (edges.writeStream.foreachBatch(write_batch)
                     .option("checkpointLocation", ctx.path("stream_ckpt"))
                     .outputMode("update").trigger(availableNow=True).start())
                q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def check(self, ctx: Ctx, q) -> dict:
        from bigtrees_spark.streaming import neardup

        found = {(r.url_l, r.url_r) for r in neardup.distinct_edges(
            ctx.spark, ctx.path("stream_sink")).select("url_l", "url_r").collect()}
        recall = len(found & self.pairs) / len(self.pairs)
        return {"ok": found == self.pairs, "twin_recall": recall,
                "triggers": len(q.recentProgress)}

    def job_groups(self, q) -> list[str]:
        return [str(q.runId)]  # Spark runs micro-batch jobs in this group


def suite(n_base: int, n_vectors: int) -> list:
    """The suite queries over one shared set of staged tables."""
    inputs = SuiteInputs(n_base, n_vectors)
    return [SuiteQuery(q, inputs) for q in queries.QUERIES]
