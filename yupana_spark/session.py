"""SparkSession factory tuned for the engine.

Scale posture (BASELINE.md operating table): AQE on (runtime re-plan + skew
join handling), shuffle partitions sized to cores for local runs (a cluster
deployment would leave AQE coalescing to size them), UTC session timezone
(reference Time is UTC millis, Time.scala:27), Arrow enabled for the few
Pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import memo


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable semantics/tuning to ANY session.

    The driver harness hands us its own SparkSession; these confs are the
    ones that must hold regardless of how the session was built (dialect
    semantics + the AQE posture).  Only runtime-settable keys belong here.
    Applied once per application (memoized): every Tsdb/datapipe entry
    calls this, and nine py4j conf round trips per query add up.
    """
    memo.get("engine_confs", (), lambda: _apply_engine_confs(spark))
    return spark


def _apply_engine_confs(spark: SparkSession) -> bool:
    cpus = spark.sparkContext.defaultParallelism
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        # local mode: cores/2 initial reduce partitions — at fixture volumes
        # reduce-task scheduling dominates below ~64 MB/partition (measured
        # ~0.1 s/query saved vs partitions=cores) and AQE coalescing still
        # owns the final layout; cluster deployments override upward
        "spark.sql.shuffle.partitions": str(max(cpus // 2, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # DimIdIn-style literal IN pushdown (compiler._IN_PUSHDOWN_GATE):
        # past the 10-key default, parquet degrades an In filter to a
        # min/max range — raise it so row groups prune on the full set
        "spark.sql.parquet.pushdown.inFilterThreshold": "1024",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — non-settable on some builds
            pass
    return True


SMALL_INPUT_BYTES = 1 << 30


def tune_for_volume(spark: SparkSession, nbytes: int) -> None:
    """Plan-time execution sizing from scan-volume stats.

    AQE's value is RUNTIME re-planning — reduce coalescing, skew splitting —
    and every shuffle boundary it owns runs as a separate job with a replan
    in between.  When the input is known at plan time to fit a handful of
    reduce tasks, that machinery only adds latency (measured ~2x on
    sub-second fixture queries: 0.24 -> 0.11 s for a 2.7 MB groupBy), so
    small inputs get STATIC reduce sizing with AQE off; anything at or above
    ``SMALL_INPUT_BYTES`` (or unknown, which callers pass as 2^62) restores
    the AQE posture verbatim — at 100 TB the gate never triggers.  The conf
    flip is session-scoped and read at execution time: correct for the
    sequential construct->execute loop the driver/bench runs; a concurrent
    deployment would pin one posture per session.
    """
    try:
        cpus = spark.sparkContext.defaultParallelism
        if nbytes < SMALL_INPUT_BYTES:
            parts = max(4, min(cpus, int(nbytes // (32 << 20)) + 4))
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        else:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(max(cpus // 2, 8)))
            # full posture = compute-bound work (datapipe pipelines, real
            # scale): AQE coalescing must keep reduce parallelism at the
            # core count, not shrink to the byte-derived minimum — the
            # r18 10x stage timelines measured a 400k-row band self-join
            # coalesced to ONE task (3.9 s serial while 31 cores idled)
            # and the rung-3 verify to two, because narrow-row exchanges
            # under-price their downstream per-row compute (zip_with
            # screens, jaccard over ~200-long arrays).  parallelismFirst
            # floors coalescing at defaultParallelism (measured 1.39x on
            # dp_neardup_scale at 10x, 4/4 pairs; neutral at fixture
            # volumes where the per-stage data is sub-MB).  The
            # latency-first false stays the SMALL-input posture (set at
            # session init; the small branch above turns AQE off anyway).
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "true")
    except Exception:  # noqa: BLE001 — tuning must never fail a query
        pass



def get_spark(app: str = "yupana-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        # the engine dialect is non-ANSI (JVM wrap on overflow, NULL on
        # div-by-zero — Spark 4 defaults ansi=true); ensure_engine_confs
        # re-asserts this on foreign sessions, but the factory must not
        # depend on a Tsdb being constructed first (test ordering made
        # direct-operator semantics flip otherwise)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(max(cpus // 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size reduce tasks by data volume, not core count: on small inputs
        # AQE coalesces to a handful of tasks (halves per-query latency);
        # at scale the advisory size keeps partitions spill-safe
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
