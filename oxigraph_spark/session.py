"""SparkSession helper with the configs this engine assumes.

Local testing runs ``local[N]``; the same settings are what we'd set on a
real cluster (AQE for runtime re-planning/skew joins, UTC session time so
timestamp semantics match the tz-less xsd:dateTime mapping).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "oxigraph-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    sp = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # executor-side parsers (turtle_to_ntriples*, mapInPandas decoders)
    # import this package on python WORKERS, which do not inherit the
    # driver's sys.path edits — pin the repo root into their PYTHONPATH
    # so sessions launched outside the repo dir still distribute
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = repo_root + (
        ":" + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 16g default (r8): one long-lived local JVM accumulates plan
        # state across hundreds of test queries (the 380-entry manifest
        # suite + fuzz in one session tipped 8g); env-overridable, and a
        # real cluster sets its own driver sizing anyway
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Tungsten page size, fixed: Spark derives it from heap / cores
        # (capped at 64 MB), and every broadcast hash relation allocates
        # at least one page — a 25-row build side held 67 MB.  The plan
        # cache keeps executed plans, and with them their broadcast
        # relations (store.py), so 1 MB pages keep that pinned memory
        # proportional to the data.  Static conf: a session the caller
        # creates without get_spark keeps Spark's default.
        .config("spark.buffer.pageSize", "1m")
        .config("spark.ui.enabled", "false")
        # static conf: Python-side call-site capture off (see configure())
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = b.getOrCreate()
    configure(spark)
    return spark


def configure(spark: SparkSession) -> None:
    """Runtime confs safe to (re)apply on an externally-created session
    (the driver owns the session in ``__spark_entry__``).

    Session-global contract (r10 advisory): parquet TIMESTAMP with
    ``isAdjustedToUTC=false`` is read as TIMESTAMP (LTZ) session-wide —
    the session timezone is pinned to UTC so wall-clock values are
    unchanged, but *user* parquet read through this session sees LTZ
    where a stock session would infer TIMESTAMP_NTZ, and a round-trip
    rewrites the column as LTZ.  Feed user data through its own session
    (or re-enable ``spark.sql.parquet.inferTimestampNTZ.enabled``) if
    NTZ schema fidelity matters."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Read parquet TIMESTAMP(isAdjustedToUTC=false) columns as TIMESTAMP
    # (LTZ) instead of TIMESTAMP_NTZ.  The session is pinned to UTC so
    # the wall-clock values are identical either way — but the NTZ read
    # forced a cast(ntz → ltz) on every temporal column (normalize_ntz),
    # and a comparison on a CAST column is not a data-source filter:
    # the flagship's l_shipdate range predicate stopped at a post-scan
    # Filter instead of reaching PushedFilters (optimization guide §6 —
    # "filters applied to derived columns do not push down"; verified in
    # plans/r09/flagship_q1_before.txt vs _after.txt).  Reading LTZ at
    # the source makes temporal range predicates parquet-pushable
    # (row-group/page pruning — the 100 TB lever on date-partitioned
    # fact scans).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # cached/persisted tables (e.g. the MinHash signature table) otherwise
    # pin their output partitioning and OPT OUT of AQE for every consumer
    # — losing runtime broadcast conversion and partition coalescing on
    # exactly the joins that need them
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    # Spark 4 defaults to ANSI mode (errors throw); SPARQL's three-valued
    # semantics need error-as-NULL for casts/overflow/division-by-zero
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # Catalyst's PushDownPredicates inlines Project aliases into predicates
    # (PushPredicateThroughNonJoin.replaceAlias); through the compiler's
    # SSA temp-column chains that substitution is exponential and hangs the
    # optimizer.  We exclude the rule and instead push filters at the
    # ALGEBRA level (like the reference's sparopt push-filters pass), which
    # places data predicates directly above the parquet scan where
    # FileSourceStrategy's PhysicalOperation still collects them.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates")
    # constraint propagation (a) is quadratic on our wide filter
    # expressions and (b) crashes in UnionBase.rewriteConstraints
    # ("key not found: src#N") on the path-closure union plans; the
    # compiler emits all needed predicates explicitly anyway.
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    # PySpark 4 wraps every DataFrame/Column method to capture the Python
    # call site for error enrichment (pyspark/errors/utils.py _with_origin):
    # per call that is a stack walk plus ~4 extra py4j round-trips
    # (getActiveSession, conf.get, origin set/clear).  Our compiler issues
    # hundreds of Column calls per query, so this is a double-digit share
    # of cold plan-build latency; error messages merely lose the
    # "user call site" decoration.  The gate
    # (spark.python.sql.dataFrameDebugging.enabled) is a STATIC conf read
    # only by Python through a module-global cache, so on an
    # externally-created session the supported off-switch is priming that
    # cache (get_spark also sets the conf properly at builder time).
    try:
        from pyspark.errors import utils as _pyspark_err_utils
        _pyspark_err_utils._enable_debugging_cache = False
    except (ImportError, AttributeError):  # pragma: no cover
        pass


_RELIABLE_CHECKPOINTS = {"enabled": False}


def set_reliable_checkpoints(spark: SparkSession,
                             directory: str | None) -> None:
    """Opt-in CLUSTER-DURABLE checkpoints for the engine's fixpoint /
    pinning tier (property-path closures, graph algorithms, PageRank,
    EXISTS row-id pinning, bnode canonicalization...).

    By default those loops cut lineage with ``localCheckpoint`` —
    executor-local blocks, the fastest option and exactly right for
    ``local[N]`` — but on a real cluster a lost executor loses its
    blocks and, because lineage was truncated, fails the job.  Passing a
    ``directory`` here (HDFS/S3/NFS visible to all executors) switches
    every :func:`pin` call to reliable ``df.checkpoint()``, which writes
    the blocks there and survives executor loss.  ``None`` switches back.

    Checkpoint files are reference-tracked; set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at session
    build time for automatic cleanup, or clean the directory after the
    job."""
    if directory is None:
        _RELIABLE_CHECKPOINTS["enabled"] = False
        return
    spark.sparkContext.setCheckpointDir(directory)
    _RELIABLE_CHECKPOINTS["enabled"] = True


def pin(df, eager: bool = False):
    """Lineage-cutting materialization for iterative plans: the ONLY
    sanctioned way engine code truncates lineage.  Default
    ``localCheckpoint`` (single-node durability); after
    :func:`set_reliable_checkpoints` it is a reliable ``checkpoint``
    into the configured directory (executor-loss durability).  Both
    also PIN nondeterministic columns (row ids, fresh bnode labels), so
    correctness-pinning call sites are safe under either mode."""
    if _RELIABLE_CHECKPOINTS["enabled"]:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def pin_eager(df):
    """:func:`pin` with eager materialization — ``df.transform(pin_eager)``
    chain form for call sites that need the blocks NOW (e.g. before
    unpersisting an input the pinned frame was computed from)."""
    return pin(df, eager=True)


import contextlib


@contextlib.contextmanager
def full_optimizer(spark: SparkSession):
    """Temporarily restore Catalyst's FULL rule set (PushDownPredicates +
    constraint propagation) for session-sharing NON-SPARQL code.

    ``configure()`` excludes those rules session-wide because the SPARQL
    compiler's SSA temp-column chains make alias substitution exponential
    (see the comments there); plain DataFrames keep parquet pushdown and
    pruning regardless (tests/test_session.py), but a filter written
    ABOVE a join by user code is not re-pushed below it.  Wrap the
    *action* (collect/write/count) — Catalyst optimizes at action time,
    which is exactly why a set/restore inside ``Store.query`` would be
    unsound: the restored rules would apply to the SPARQL plan later.
    Do NOT trigger Store DataFrames inside this scope.

    >>> with full_optimizer(spark):
    ...     my_df.join(dim, "k").where(dim.c == 1).write.parquet(p)
    """
    prev_excl = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    prev_cp = spark.conf.get("spark.sql.constraintPropagation.enabled",
                             None)
    spark.conf.unset("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "true")
    try:
        yield spark
    finally:
        if prev_excl is not None:
            spark.conf.set("spark.sql.optimizer.excludedRules", prev_excl)
        if prev_cp is not None:
            spark.conf.set("spark.sql.constraintPropagation.enabled",
                           prev_cp)
