#!/usr/bin/env python3
"""Layered benchmark for the bigtrees_spark near-duplicate engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One Spark app at local[nproc] per run; one
closed-loop client issues the workload's operation, waits for it, checks
its outputs, and issues the next.  Every input is generated from ``--seed``.

A run has three phases:

1. set-up: build the session once with the engine's own ``get_spark``, then
   stage the inputs ``SETUP_ROUNDS`` times; ``setup_s`` is the session build
   plus the median staging.  The build is not repeated: a second build in
   the same JVM takes a warm path no user pays, and a second JVM costs as
   much as a whole timed rep;
2. ``WARMUP_REPS`` untimed full-size reps (``session.warmup_s``);
3. timed reps until ``--seconds`` have passed (at least one).

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(medians over timed reps).  With ``--trace 1`` the session writes an
uncompressed event log, and the timed reps run with the engine's public
functions wrapped (spans.py), between two untraced reps; the run reports
the per-layer metrics (medians over traced reps).  Spans and layer
metrics are also written to ``.perfbench/trace-<workload>-<seed>.json``.
Layer metrics of a layer the workload does not reach read 0.

Lines before the last one are for people: host context (steal, load,
nproc, Spark version), each metric with its unit, the failed ratio and the
workload's correctness measure (twin recall, fingerprint agreement).  A failed check makes
the rep count in ``failed`` and not in any timing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SETUP_ROUNDS = 3
WARMUP_REPS = 1
DRIVER_MEM = "4g"  # of 15 GB; the rest is left to the Python workers and the OS

def _workloads():
    import legs

    return {
        "neardup_8k": lambda: [legs.NearDedup(250)],
        "short_jobs": lambda: legs.suite(1000, 1000) + [legs.Resnapshot(1000),
                                                        legs.StreamNearDup(20, 1)],
    }


def _session(cores: int, trace: bool):
    from bigtrees_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # C1 only: with the default tiered JIT, C2 keeps recompiling for
        # over a minute of work on a 4-core host (a rep's wall drops ~30 %
        # from the 2nd to the 7th rep), longer than a run can afford, so a
        # timed rep would sample that transient.  C1 code is slower but
        # steady from the 2nd rep on.  C1-only shrinks the default code
        # cache to 48 MB, which fills after ~1 min and turns the JIT off;
        # the tiered default size is restored.
        "spark.driver.extraJavaOptions": (
            f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:-UsePerfData"
            f" -Djava.io.tmpdir={WORK}/tmp -Dderby.system.home={WORK}/tmp"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _prepare_env(cores: int) -> None:
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    import hostctx

    kids = hostctx.descendant_pids()
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001 — shut down regardless
            print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr)
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


class Client:
    """One closed-loop client: issues a rep, waits, checks, repeats."""

    def __init__(self, legs, ctx, tracer=None):
        self.legs, self.ctx, self.tracer = legs, ctx, tracer

    def rep(self, group: str, post=None) -> dict:
        import hostctx
        from spans import GROUP_PROP

        sc = self.ctx.spark.sparkContext
        rec = {"group": group, "legs": [], "ok": True}
        for leg in self.legs:
            leg.before(self.ctx)
            self.ctx.group = group
            if self.tracer:
                self.tracer.trace_id = group
            sc.setLocalProperty(GROUP_PROP, group)
            c0, t0, e0 = hostctx.tree_cpu_s(), time.perf_counter(), time.time()
            try:
                out, err = leg.run(self.ctx), None
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                out, err = None, repr(e)
            t1, e1, c1 = time.perf_counter(), time.time(), hostctx.tree_cpu_s()
            sc.setLocalProperty(GROUP_PROP, None)
            lr = {"name": leg.name, "start": e0, "end": e1, "wall": t1 - t0, "cpu": c1 - c0,
                  "items": leg.items, "groups": leg.job_groups(out) if err is None else []}
            if err is None:
                if post is not None:
                    sc.setLocalProperty(GROUP_PROP, "post")
                    lr["layer"] = post(leg, out)
                sc.setLocalProperty(GROUP_PROP, "check")
                try:
                    chk = leg.check(self.ctx, out)
                except Exception as e:  # noqa: BLE001
                    chk = {"ok": False, "error": repr(e)}
                sc.setLocalProperty(GROUP_PROP, None)
                leg.after(self.ctx, out)
            else:
                chk = {"ok": False, "error": err}
            if not chk["ok"]:
                print(f"perfbench: check failed in {leg.name}: {chk}", file=sys.stderr)
            lr["check"] = chk
            rec["ok"] &= bool(chk["ok"])
            rec["legs"].append(lr)
        rec["wall"] = sum(lr["wall"] for lr in rec["legs"])
        rec["cpu"] = sum(lr["cpu"] for lr in rec["legs"])
        rec["items"] = sum(lr["items"] for lr in rec["legs"])
        return rec


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    import hostctx
    import legs as legs_mod

    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    legs = _workloads()[workload]()
    ctx = legs_mod.Ctx(spark=None, work=WORK, seed=seed, cores=cores)
    info = {"workload": workload, "seed": seed, "nproc": cores, "load1_start": hostctx.load1()}
    j0 = hostctx.cpu_jiffies()
    spark = None
    try:
        spark, session_s = _session(cores, trace)
        ctx.spark = spark
        stagings = []
        for ctx.round in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            for leg in legs:
                leg.stage(ctx)
            stagings.append(time.perf_counter() - t0)
        info["spark_version"] = spark.version
        client = Client(legs, ctx)

        t0 = time.perf_counter()
        warm = [client.rep(f"w{i}") for i in range(WARMUP_REPS)]
        warmup_s = time.perf_counter() - t0

        tracer = None
        untraced = []
        if trace:
            import layers

            untraced.append(client.rep("u0"))
            tracer = layers.make_tracer(spark.sparkContext)
            client.tracer = ctx.tracer = tracer
        reps = []
        t0 = time.perf_counter()
        while not reps or time.perf_counter() - t0 < seconds:
            if tracer:
                reps.append(client.rep(f"t{len(reps)}", post=layers.post_counts(ctx, tracer)))
            else:
                reps.append(client.rep(f"r{len(reps)}"))
        if tracer:
            tracer.uninstall()
            client.tracer = ctx.tracer = None
            # untraced reps on both sides of the traced ones, so the
            # warm-up trend cancels out of trace.overhead_pct
            untraced.append(client.rep("u1"))
            probes = layers.probes(ctx)
        j1 = hostctx.cpu_jiffies()
        info.update({"steal_pct": hostctx.steal_pct(j0, j1), "load1_end": hostctx.load1()})
        if trace:
            job_counts = layers.job_counts(spark, reps + untraced, tracer)
            info["jobs_per_rep"] = job_counts
        app_id = spark.sparkContext.applicationId
    finally:
        _shutdown(spark)

    good = [r for r in reps if r["ok"]]
    failed = len(reps) - len(good)
    info.update({
        "session_s": session_s, "staging_s": stagings, "warmup_s": warmup_s,
        "warm_legs": [(lr["name"], round(lr["wall"], 3)) for r in warm for lr in r["legs"]],
        "rep_legs": [(lr["name"], round(lr["wall"], 3)) for r in reps for lr in r["legs"]],
        "rep_walls": [round(r["wall"], 4) for r in reps],
        "checks": [lr["check"] for r in reps for lr in r["legs"]],
    })
    ok = failed == 0 and all(r["ok"] for r in warm + untraced)
    result = {"correct": ok, "attempted": len(reps), "failed": failed}
    if trace:
        metrics = layers.layer_metrics(
            os.path.join(WORK, "eventlog", app_id), reps, untraced, tracer, session_s, warmup_s,
            probes, job_counts,
        )
        ok &= metrics.pop("_jobs_match") and metrics["trace.coverage_pct"][0] >= 90.0
        result["correct"] = ok
        layers.write_trace(os.path.join(WORK, f"trace-{workload}-{seed}.json"), tracer, reps,
                           metrics, info)
    else:
        wall = _median([r["wall"] for r in good])
        metrics = {
            "wall_s": (wall, "s"),
            "docs_per_s": (_median([r["items"] / r["wall"] for r in good]), "1/s"),
            "cpu_s": (_median([r["cpu"] for r in good]), "s"),
            "setup_s": (session_s + _median(stagings), "s"),
            "ok_ratio": (len(good) / len(reps), "ratio"),
        }
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return result, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bigtrees_spark", "__init__.py")):
        print(f"perfbench: no bigtrees_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.workload not in _workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    result, info = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print("context " + json.dumps(info, default=str))
    shown = {k: (m["value"], m["unit"]) for k, m in result["metrics"].items()}
    shown["failed_ratio"] = (result["failed"] / result["attempted"], "ratio")
    for k in ("twin_recall", "fp_agreement"):  # the workload's correctness measure
        vals = [c[k] for c in info["checks"] if k in c]
        if vals:
            shown[k] = (min(vals), "ratio")
    for name, (v, unit) in shown.items():
        print(f"{args.workload:24s} {name:32s} {v:14.4f} {unit}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
