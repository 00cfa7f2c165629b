"""SparkSession factory tuned for the engine, and the posture sessions.

AQE on/off, the reduce-partition count and ``parallelismFirst`` are read
when a query RUNS, so they belong to the session a frame is rooted in,
never to the shared session (a flip there reaches every frame built
before it).  A posture is a memoized ``cloneSession`` child (keeping the
runtime confs, temp views and UDFs); ``rehome`` re-roots a built frame
onto it.  Confs set on the shared session later do not reach existing
postures: ``memo.invalidate("posture")`` (ADMIN ``SET``) re-clones them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import memo


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable semantics/tuning to ANY session.

    The driver harness hands us its own SparkSession; these confs are the
    ones that must hold regardless of how the session was built (dialect
    semantics + the base AQE posture).  Only runtime-settable keys belong
    here.  Applied once per session (memoized on the session object; a
    posture session inherits them): every Tsdb/datapipe entry calls this,
    and ten py4j conf round trips per query add up.
    """
    root = getattr(spark, "_posture_parent", spark)
    memo.get("engine_confs", (root,), lambda: _apply_engine_confs(root))
    return spark


def _apply_engine_confs(spark: SparkSession) -> bool:
    cpus = spark.sparkContext.defaultParallelism
    for k, v in {
        "spark.sql.session.timeZone": "UTC",  # Time is UTC (Time.scala:27)
        # the engine dialect is non-ANSI (JVM wrap on overflow, NULL on
        # div-by-zero — Spark 4 defaults ansi=true)
        "spark.sql.ansi.enabled": "false",
        # local mode: cores/2 initial reduce partitions — at fixture volumes
        # reduce-task scheduling dominates below ~64 MB/partition (measured
        # ~0.1 s/query saved vs partitions=cores) and AQE coalescing still
        # owns the final layout; cluster deployments override upward
        "spark.sql.shuffle.partitions": str(max(cpus // 2, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # size reduce tasks by data volume, not core count: on small inputs
        # AQE coalesces to a handful of tasks (halves per-query latency);
        # at scale the advisory size keeps partitions spill-safe
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # DimIdIn-style literal IN pushdown (compiler._IN_PUSHDOWN_GATE):
        # past the 10-key default, parquet degrades an In filter to a
        # min/max range — raise it so row groups prune on the full set
        "spark.sql.parquet.pushdown.inFilterThreshold": "1024",
        # some sources write TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects: read nanos as long and let Schema.load convert
        # (integer division keeps the full 64-bit precision)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # warehouse directories are local, so listing them on the driver
        # is cheap: past the default 32 paths (a table's month-bucket
        # directories) Spark lists them with a job of its own
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — non-settable on some builds
            pass
    return True


SMALL_INPUT_BYTES = 1 << 30

#: undoes the split aggregation's intentional dedupe (compiler._compile_agg)
#: and puts the raw-row sort back; excluded for query frames only, since
#: it is a real saving in datapipe plans (a pair-set distinct under an
#: aggregate in dp_neardup_scale and dp_pack_sequences)
_REDUNDANT_AGGS = ("org.apache.spark.sql.catalyst.optimizer."
                   "RemoveRedundantAggregates")


def posture(spark: SparkSession, nbytes: int | None = None) -> SparkSession:
    """The session that plans and runs a query over ``nbytes`` of input,
    or (``nbytes=None``) compute-bound work such as the datapipe bundles.

    AQE's value is RUNTIME re-planning — reduce coalescing, skew splitting —
    and every shuffle boundary it owns runs as a separate job with a replan
    in between.  When the input is known at plan time to fit a handful of
    reduce tasks, that machinery only adds latency (measured ~2x on
    sub-second fixture queries: 0.24 -> 0.11 s for a 2.7 MB groupBy), so
    small inputs get STATIC reduce sizing with AQE off; anything at or above
    ``SMALL_INPUT_BYTES`` (or unknown) gets the full AQE posture — at
    100 TB the gate never triggers — and so does compute-bound work, but
    with Catalyst's rules untouched.  One child per (parent, posture): at
    most cores - 1 of them."""
    parent = getattr(spark, "_posture_parent", spark)
    # the memo is scoped to the SparkContext, and so is its core count
    cpus = memo.get("cores", (), lambda: spark.sparkContext.defaultParallelism)
    if nbytes is None:
        parts = "compute"
    elif nbytes >= SMALL_INPUT_BYTES:
        parts = "full"
    else:
        parts = max(4, min(cpus, int(nbytes // (32 << 20)) + 4))
    return memo.get("posture", (parent, parts),
                    lambda: _posture_session(parent, parts, cpus))


def _posture_session(parent: SparkSession, parts, cpus: int) -> SparkSession:
    ensure_engine_confs(parent)
    child = SparkSession(parent.sparkContext,
                         parent._jsparkSession.cloneSession())
    full = not isinstance(parts, int)
    confs = {
        "spark.sql.adaptive.enabled": str(full).lower(),
        "spark.sql.shuffle.partitions": str(max(cpus // 2, 8) if full
                                            else parts),
        # full posture = compute-bound work (datapipe pipelines, real
        # scale): AQE coalescing must keep reduce parallelism at the core
        # count, not shrink to the byte-derived minimum — the r18 10x
        # stage timelines measured a 400k-row band self-join coalesced to
        # ONE task (3.9 s serial while 31 cores idled) and the rung-3
        # verify to two, because narrow-row exchanges under-price their
        # downstream per-row compute (zip_with screens, jaccard over
        # ~200-long arrays).  parallelismFirst floors coalescing at
        # defaultParallelism (measured 1.39x on dp_neardup_scale at 10x,
        # 4/4 pairs; neutral at fixture volumes where the per-stage data
        # is sub-MB).  The small posture keeps the latency-first false
        # (moot there: AQE is off).
        "spark.sql.adaptive.coalescePartitions.parallelismFirst":
            str(full).lower(),
    }
    if parts != "compute":
        rules = parent.conf.get("spark.sql.optimizer.excludedRules", "")
        confs["spark.sql.optimizer.excludedRules"] = ",".join(
            filter(None, [rules, _REDUNDANT_AGGS]))
    for k, v in confs.items():
        child.conf.set(k, v)
    child._posture_parent = parent
    return child


def rehome(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s plan rooted in ``session``: it plans and runs under that
    session's conf (and reads the data its parent persisted)."""
    if df.sparkSession is session:
        return df
    dataset = memo.get("dataset_class", (), lambda:
                       session._jvm.org.apache.spark.sql.classic.Dataset)
    jds = dataset.ofRows(session._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jds, session)


def get_spark(app: str = "yupana-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark wraps every Column and functions call in a call-site
        # capture of several py4j round trips; a static conf, so it only
        # reaches sessions built here
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    # the engine dialect and base posture hold from the start, not only
    # once a Tsdb is constructed (test ordering made direct-operator
    # semantics flip otherwise)
    return ensure_engine_confs(spark)
