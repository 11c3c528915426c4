"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per
executor; the knobs that matter at 100 TB (AQE, Arrow batching, shuffle
partition count, UTC session TZ for oracle parity) are pinned here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batching (guide §4.2): Spark 4 bounds a batch by BOTH row count
# and bytes. r5 pinned rows=2048 purely to keep batches of ~1 MB image
# blobs small — which also chopped every NARROW numeric stream (hashes,
# probe columns) into 5× more Python-boundary batches than the 10000
# default. The byte cap is the correct guard for fat binary rows, so
# rows go back to 10000 and bytes are pinned explicitly: a blob batch
# tops out at 32 MB regardless of row count.
_ARROW_MAX_RECORDS = "10000"
_ARROW_MAX_BYTES = "32m"

def default_driver_memory() -> str:
    """``spark.driver.memory`` default: min(48g, 60% of physical RAM).

    Local mode folds executor memory into the one driver JVM, and r6
    profiling tied the worst per-query outliers to old-gen GC pressure
    after ~25 queries in one session, hence a large heap where the box
    has one. A heap sized past the box gets the JVM killed by the OOM
    killer instead of collected; 60% leaves room for its off-heap
    memory and the Python workers."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(48 * 1024, int(ram_mb * 0.6))}m"


# SparkContext application ids whose Python worker pool has been warmed
# (get_spark may be called many times per session via getOrCreate)
_warmed_apps: set[str] = set()


def _warm_python_workers(spark: SparkSession) -> None:
    """Fork and import-warm the Python worker pool (r6, guide §4).

    ``spark.python.worker.reuse`` (default on) means a long-lived
    application pays worker fork + pandas/pyarrow imports ONCE — but a
    fresh session pays it inside whichever query first crosses the
    Python boundary (~1.3 s measured at local[32] folded into that
    query's wall time). bench.py's frontier phase already does exactly
    this ("spin up the Python workers … as a long-lived cluster would
    have"); doing it at session creation extends the same steady-state
    contract to every entry point. Two tiny jobs, one per evaluator
    family the engine uses: mapInArrow + scalar pandas UDF (chained in
    one action), and cogrouped applyInArrow (the membership-probe
    path). Touches no input data — pure worker-pool infrastructure.
    Opt out with ``SPARK_GRAFT_WORKER_WARMUP=off``.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism

    def _noop_fn(v):
        return v

    # real annotation objects: the module's postponed annotations would
    # reach pandas_udf as unresolvable strings ('pd.Series')
    _noop_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _noop = F.pandas_udf(_noop_fn, "long")

    def _ident(batches):
        yield from batches

    base = spark.range(n).repartition(n)
    (
        base.mapInArrow(_ident, "id long")
        .select(_noop(F.col("id")).alias("id"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    def _cg(left, right):
        return left

    (
        base.withColumn("k", F.col("id"))
        .groupBy("k")
        .cogroup(base.withColumn("k", F.col("id")).groupBy("k"))
        .applyInArrow(_cg, "id long, k long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def get_spark(
    app_name: str = "retailer_scrapers_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    codegen: bool | None = None,
    aqe: bool | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` accepts an int (→ ``local[n]``) or a full master string; it
    defaults to ``$SPARK_GRAFT_CPUS`` then ``local[*]``. On a real cluster
    the master comes from spark-submit and this arg is ignored there.

    ``codegen`` (default on; also ``$SPARK_GRAFT_CODEGEN=off``):
    whole-stage + expression codegen is the right default at data scale —
    compiled row processing amortizes over billions of rows. At tiny
    (test/CI) scale the economics invert: Janino compilation costs
    seconds per NOVEL plan shape (and this sandbox pays a ~25–50 s
    one-time per-JVM codegen cold start — measured via a trivial
    ``lower()`` projection), while interpreted evaluation of a few
    thousand rows is microseconds. A multi-action pipeline like one
    crawl epoch (~40 distinct plan shapes) therefore runs minutes
    faster interpreted when the data is KB-sized. Flip it off for
    small-fixture test runs; never off for real data.

    ``aqe`` (default on; also ``$SPARK_GRAFT_AQE=off``): same economics
    as codegen. AQE's ``onUpdatePlan`` stringifies the ENTIRE physical
    plan synchronously (inside ``withFinalPlanUpdate``, blocking the
    query) on every stage materialization. An epoch pipeline whose
    metrics/log unions repeat the frontier subtree ~7× produces plan
    trees big enough that this stringification — not execution —
    dominates KB-scale runs (measured: >85 s of driver CPU inside
    ``generateTreeString`` in the first 100 s of one e2e test, vs
    milliseconds of actual work). At data scale AQE's coalescing/skew
    splits pay for that overhead many times over, and the
    ``maxPlanStringLength`` cap below bounds the per-update cost; at
    KB scale there is nothing to coalesce. Flip it off for
    small-fixture test runs; never off for real data.
    """
    if codegen is None:
        codegen = os.environ.get("SPARK_GRAFT_CODEGEN", "on").lower() not in ("off", "0", "false")
    if aqe is None:
        aqe = os.environ.get("SPARK_GRAFT_AQE", "on").lower() not in ("off", "0", "false")
    if cores is None and "PYSPARK_GATEWAY_PORT" in os.environ:
        # Launched by spark-submit (the gateway JVM already carries
        # --master/--py-files): ALWAYS respect the submitted master —
        # this is the north_rule's deployment path. An ambient
        # SPARK_GRAFT_CPUS must not silently convert a cluster job into
        # local mode (ADVICE r4: the env var is a local-dev knob only).
        if "SPARK_GRAFT_CPUS" in os.environ:
            import warnings

            warnings.warn(
                "SPARK_GRAFT_CPUS is ignored under spark-submit; the submitted --master wins",
                stacklevel=2,
            )
        master = None
    elif cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if cores is not None and isinstance(cores, str) and cores.startswith(("local", "spark", "yarn", "k8s")):
        master = cores
    elif cores is not None:
        master = f"local[{cores}]"
    if shuffle_partitions is None and master is not None and master.startswith("local"):
        # local mode: one shuffle partition per core (the digits in
        # local[n]; local[*] → the box's core count)
        digits = "".join(c for c in master if c.isdigit())
        shuffle_partitions = int(digits) if digits else (os.cpu_count() or 8)
    # On a submitted/cluster master, leave spark.sql.shuffle.partitions
    # UNSET (Spark default 200 + AQE coalescing): sizing data-scale
    # shuffles from the DRIVER box's cpu_count would silently pin a
    # 1000-executor job to ~8 partitions (ADVICE r4).

    builder = (
        (SparkSession.builder.master(master) if master else SparkSession.builder)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cap plan stringification (AQE posts a full explain per stage
        # update; SQLExecutionStart posts one per action). 64 KB is ample
        # for debugging; unbounded, a deep epoch plan costs the DRIVER
        # whole seconds of CPU per update at any data scale.
        .config("spark.sql.maxPlanStringLength", str(64 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", _ARROW_MAX_RECORDS)
        .config("spark.sql.execution.arrow.maxBytesPerBatch", _ARROW_MAX_BYTES)
        # env-overridable; on a submitted cluster master the driver JVM
        # already exists, so this conf is inert there (driver memory
        # comes from spark-submit)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if not codegen:
        builder = builder.config("spark.sql.codegen.wholeStage", "false").config(
            "spark.sql.codegen.factoryMode", "NO_CODEGEN"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_WORKER_WARMUP", "on").lower() not in ("off", "0", "false"):
        app_id = spark.sparkContext.applicationId
        if app_id not in _warmed_apps:
            _warmed_apps.add(app_id)
            _warm_python_workers(spark)
    return spark
