"""Dump the physical plans of the key operators to PLANS.md — evidence that
filters/projections push to the scan (PushedFilters/ReadSchema), small sides
broadcast, and expressions stay inside WholeStageCodegen."""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from bigtrees_spark.operators import dedup, find, lsh, sets  # noqa: E402
from bigtrees_spark.operators.fingerprint import fingerprint_docs  # noqa: E402
from bigtrees_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> None:
    spark = get_spark(cores=8, app_name="explain")
    spark.sparkContext.setLogLevel("ERROR")
    d = spark.read.parquet(f"{SF}/documents.parquet")
    base = d.select(F.format_string("d%08d", "doc_id").alias("url"), "text", F.col("lang"))

    sections = {}

    # 1. find: bounds + projection must push to the parquet scan
    fp_cols = d.select(
        F.format_string("d%08d", "doc_id").alias("url"),
        F.col("n_chars").alias("nbytes"),
        F.col("lang"),
        F.sha2("text", 256).alias("sha256"),
    )
    cfg = find.SearchConfig(min_bytes=100, max_bytes=400, langs=["en"], out_cols=["url", "nbytes"])
    sections["find: filter+projection pushdown"] = plan_of(find.find(fp_cols, cfg))

    # raw scan pushdown check (filters on physical columns)
    sections["raw scan pushdown (n_chars filter)"] = plan_of(
        d.where((F.col("n_chars") >= 100) & (F.col("lang") == "en")).select("doc_id", "n_chars")
    )

    # 2. exact dedup aggregation: partial+final hash aggregate
    fpd = fingerprint_docs(base.select("url", "text"))
    sections["exact dedup groupBy"] = plan_of(dedup.exact_dupe_groups(fpd).limit(10))

    # 3. hash-set exclusion: anti-join, strategy left to AQE (a user set can
    # be a whole snapshot's digests — no forced broadcast; small sets still
    # become runtime BroadcastHashJoins, which is what this plan shows)
    excl = sets.hash_set_from_docs(fpd.limit(20))
    sections["exclude-set anti-join (AQE-chosen strategy)"] = plan_of(
        sets.exclude(fpd, excl)
    )

    # 4. verify stage: the one edge predicate, exact Jaccard, JVM-only
    # (array_intersect/union inside WholeStageCodegen) over SHINGLE arrays
    # joined once per side — two joins, no minhash or text column past the
    # scan, no Python eval anywhere in the verify plan
    reps = dedup.canonical_docs(fpd).localCheckpoint(eager=True)
    pairs = lsh.candidate_pairs(reps)
    sections["verify_pairs: codegen exact Jaccard on shingle arrays"] = plan_of(
        lsh.verify_pairs(pairs, reps)
    )

    # 4b. candidate pairing: ONE window pass — no self-join, no cache, no
    # union.  Each row's "others" array (earlier items for buckets <= cap,
    # lead-K successors above it) is exploded into (least, greatest) pairs;
    # the raw pairs hash on (l, r) once and the distinct reuses that
    # partitioning.
    sections["candidate_pairs: one-pass window pairing (no join, no cache)"] = plan_of(
        lsh.candidate_pairs(reps)
    )

    # 4c. substring sliced verify (long docs via repeat(text); routing is
    # per-row octet_length, no corpus probe): every shuffle at pair
    # granularity must carry the bounded `sl_*` slices projected in the same
    # stage as the per-url text join — a full `tb` appears only on the
    # per-url join inputs and the saturated-pair fallback joins
    from bigtrees_spark.operators import substring

    long_docs = base.select("url", F.repeat("text", 30).alias("text")).limit(300)
    _DF = type(long_docs)  # the concrete DataFrame class (classic/connect)

    # checkpoints truncate explain() to a Scan ExistingRDD; disable them for
    # THIS build only so the full verify tree is visible (executed plans cut
    # at the checkpoints, with less recompute than shown here)
    _orig_ckpt = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self
    try:
        sections[
            "substring_edges: sliced verify (bounded strings on pair join; "
            "checkpoints disabled for visibility)"
        ] = plan_of(substring.substring_edges(long_docs))
    finally:
        _DF.localCheckpoint = _orig_ckpt

    # 4d. ANN brute-force top-k: the corpus is scanned once by MapInArrow
    # (queries collected into the task closure) and never shuffles; the only
    # exchange sits between WindowGroupLimit(Partial) and (Final), so it
    # carries <= k rows per query per partition — no full-corpus sort, no
    # unbounded aggregation buffer
    from bigtrees_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sections["ann brute-force top-k: one MapInArrow corpus scan + bounded top-k"] = plan_of(
        similarity.brute_force_topk(emb.limit(3), emb, k=5)
    )

    # 4e. snapshot_diff move matching: rank-within-(digest,salt) via a
    # sort_array AGGREGATE + equi-join on (digest, salt, rank) — the only
    # window runs on the residual anti-join leftovers, so a mass-move of
    # identical-content files never funnels one digest through one task
    # (VERDICT r03 #5)
    from bigtrees_spark.operators import diff as diffmod

    old_fp = fpd.select("url", "sha256")
    new_fp = old_fp.withColumn(
        "url", F.concat(F.lit("moved/"), F.col("url"))
    )
    # simple mode: the formatted dump of this 40-operator tree runs ~2700
    # lines; the tree alone shows the property (ObjectHashAggregate ranks,
    # equi-joins on (digest,s,rnk), windows only on the anti-join residue)
    sections["snapshot_diff: salted 1:1 move matching (no per-digest window funnel)"] = plan_of(
        diffmod.snapshot_diff(old_fp, new_fp), mode="simple"
    )

    # 4f. simplify_dupes: covered_prefixes is DERIVED and unbounded, so the
    # plan must not force-broadcast it — AQE decides (a forced broadcast of a
    # derived set is a driver-OOM risk at scale; VERDICT r03 #2)
    sections["simplify_dupes: no forced broadcast of derived covered-prefix set"] = plan_of(
        dedup.simplify_dupes(dedup.exact_dupe_groups(fpd), dedup.prefix_dupe_groups(fpd))
    )

    # 4d. repeated-line removal: skinny (32B hash, count) frequency shuffle,
    # seg><freq join strategy left to AQE (skew-join handles hot boilerplate
    # lines), reassembly buffer bounded by one document's own segments
    from bigtrees_spark.operators.linededup import remove_repeated_segments

    lined = base.select(
        F.col("url").alias("doc_id"),
        F.concat("text", F.lit("\nNAVBAR\nFOOTER"), F.lit("")).alias("text"),
    )
    sections["line dedup: hash-keyed frequency + AQE join + per-doc reassembly"] = plan_of(
        remove_repeated_segments(lined)
    )

    # 5. URL canonicalization + scope: pure Catalyst expressions
    from bigtrees_spark.operators import urls

    u = d.select(F.format_string("http://site%d.com/sec%d/d%08d", F.col("doc_id") % 7,
                                 F.col("doc_id") % 5, "doc_id").alias("url"))
    sections["url canonicalize + scope filter (pure codegen)"] = plan_of(
        urls.scope_filter(urls.canonicalize_urls(u), "http://site1.com/sec2")
    )

    with open("/root/repo/PLANS.md", "w") as f:
        f.write(
            "# Physical plans (generated by tools/explain_plans.py at sf0.01)\n\n"
            "Checks: PushedFilters / ReadSchema on scans, BroadcastHashJoin for\n"
            "set exclusion, partial+final HashAggregate for dedup, WholeStageCodegen\n"
            "spans around the Catalyst-native surface.\n"
        )
        for name, plan in sections.items():
            f.write(f"\n## {name}\n\n```\n{plan}\n```\n")
    spark.stop()
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
