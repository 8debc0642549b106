"""SparkSession factory with the engine's scale-oriented defaults.

Defaults are tuned for the sandbox (local[N], single JVM) but chosen
so the same knobs carry to a 1000-executor cluster: AQE everywhere
(runtime coalescing + skew-join splitting), Arrow for every
JVM<->Python exchange, and a shuffle-partition count that callers
override per deployment.

Two settings keep a warm JVM from recompiling the pipeline's generated
code on every run.  Spark compiles each whole-stage-codegen class (and
each generated projection, predicate and ordering) with Janino and keeps
the result in a cache keyed by the generated source, bounded by the
static ``spark.sql.codegen.cache.maxEntries`` (default 100).  One
pipeline run generates more distinct classes than that (measured at
local[4]: 168-172 Janino compilations per full run, 255-258 per
incremental run), and every run walks them in the same order, so the
LRU cache kept nothing from one run to the next: each run recompiled
every class, loaded ~350-400 new classes and sent them all through the
HotSpot JIT again, on compiler threads competing with the tasks.

* ``CODEGEN_CACHE_ENTRIES`` sizes the cache from a measured count.  One
  JVM that runs a full run, an incremental run and the 8 headline
  catalog queries (on the benchmark's 3,000-page ingest corpus, plus
  the store build and this module's warm-up) holds 412 distinct
  classes.  Guava splits the bound evenly over 4 segments and evicts
  LRU within each, so it is each segment's fill that must fit.  A key
  lands in a segment by a hash that includes a class loader's identity
  hash, so the fills vary per JVM: 94/105/114/99 and 112/96/100/104 in
  two JVMs, i.e. binomial around 103 with a standard deviation of 9.
  512 gives each segment 128 slots, 2.8 standard deviations over the
  mean fill; a segment that overflowed would thrash, because every run
  walks its classes in the same order.  Each entry is one loaded class
  (tens of KB).
* ``spark.sql.codegen.useIdInClassName=false`` keeps the codegen stage
  id out of the generated class name.  Stage ids follow the order in
  which AQE plans a query's stages, and that order changes with the
  timing of the pipeline's concurrent stages, so the same code got a
  different name (and cache key) on the next run: 12-18 recompilations
  on a JVM's second full run.  The id stays in the code's comment, and
  class names in stack traces read ``GeneratedIterator``.

With both, a JVM's second full run compiled 0-4 classes instead of
~170, and an incremental run none after its first.  The few left are
join shapes AQE picks from whichever stages happen to finish first;
once compiled they stay cached too.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Parquet keeps a pushed In predicate EXACT (one eq() leaf per value)
# up to this many values; past it Spark pushes a min/max range
# instead.  Raising it is NOT safe: parquet expands the In into a
# right-deep OR chain and a ~50k-value chain overflows the executor
# stack (measured StackOverflowError in every scan task).  The
# incremental verify's candidate-id pushdown sizes its exact-In path
# to this same number — operators/incremental.py imports THIS constant
# so the two can never drift (round-4 ADVICE).
PARQUET_IN_FILTER_THRESHOLD = 1000

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# distinct generated classes of one warm JVM, sized from a measured
# count (module docstring)
CODEGEN_CACHE_ENTRIES = 512


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's memory, at most 24g (the heap the 32-core runs
    were measured with).  The rest is for the Python UDF workers (one
    per core), the JVM's off-heap and the page cache that serves the
    shuffle files.  24g when the host's memory cannot be read."""
    try:
        with open(meminfo) as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{max(512, min(24 * 1024, total_kb // 2048))}m"


def get_session(
    app_name: str = "courlan-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    "Build (or reuse) a SparkSession with the engine defaults."
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    # one math thread per Python UDF worker: parallelism comes from
    # Spark tasks; nested BLAS/OpenMP threads (N workers x N threads)
    # oversubscribe the box and destroy scaling
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime re-planning, partition coalescing, skew-join splits
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: all pandas UDF traffic is batched columnar
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep scans right-sized for ~128MB parquet splits at scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # keep candidate-id In predicates exact in the parquet pushdown
        # (default threshold 10 degrades them to a min/max range): the
        # incremental verify pushes candidate doc ids into doc_id-sorted
        # store snapshots for file skipping.  Bounded at 1000 — parquet
        # expands a pushed In into a right-deep OR chain of eq() leaves,
        # and a ~50k-value chain overflows the executor stack (measured:
        # StackOverflowError in every scan task); past the bound Spark
        # pushes the min/max range instead and the InSet row filter
        # still drops non-partner rows before any text moves
        .config(
            "spark.sql.parquet.pushdown.inFilterThreshold",
            str(PARQUET_IN_FILTER_THRESHOLD),
        )
        # local mode: the driver JVM hosts every task; N concurrent
        # tasks need N shares of sort/join memory or stages spill and
        # high core counts run *slower* than low ones (measured: the
        # signature-estimate verify join at 32 threads took 2x longer
        # on an 8g heap than on 32g); never more than the host has
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        # keep a warm JVM's compiled codegen classes (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # managed-table warehouse (bucketed layouts) outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", f"/tmp/spark-warehouse-{os.getuid()}"
            ),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _warm_engine(spark)
    return spark


def _warm_engine(spark: SparkSession) -> None:
    """One tiny untimed query at session build exercising the codepaths
    a fresh JVM compiles lazily — exchange, window, hash/object
    aggregate, broadcast join, sort, distinct, whole-stage codegen and
    the janino compiler itself.  Without it that one-time cost
    (measured 1.0-1.3 s at local[32]) lands on whichever REAL query a
    session runs first; interleaved fresh-JVM A/B:
    q_url_canonical_dedup first-run 4.72/5.09 -> 3.66/3.84 s and the
    SECOND query also drops (5.24/5.35 -> 4.76/4.07 s) because C2
    promotion continues across queries (tools/exp_r06_warmup.py).
    Runs on spark.range data only — no input tables, nothing cached,
    no result reused — i.e. the engine analog of the worker/numpy
    warm-up the bench already performs untimed for the same reason.
    Once per SparkContext (conf marker); SPARK_GRAFT_SESSION_WARMUP=0
    disables it.  A warm-up that fails is dropped: it never fails the
    session build."""
    if os.environ.get("SPARK_GRAFT_SESSION_WARMUP", "1") == "0":
        return
    try:
        if spark.conf.get("spark.courlan.engineWarmed", "0") == "1":
            return
    except Exception:  # noqa: BLE001 — conf read failed: skip warm-up
        return
    try:
        _warm_up_query(spark)
    except Exception as exc:  # noqa: BLE001 — the warm-up only saves time
        warnings.warn(f"session warm-up query failed, skipped: {exc!r}", RuntimeWarning)
        return
    spark.conf.set("spark.courlan.engineWarmed", "1")


def _warm_up_query(spark: SparkSession) -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 20_000, numPartitions=8).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        (F.col("id") % 13).alias("v"),
    )
    w = Window.partitionBy("k")
    small = spark.range(0, 97).select(F.col("id").alias("k"), F.lit(1).alias("t"))
    (
        df.repartition(8, "k")
        .withColumn("c", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(w.orderBy("id")))
        .groupBy("k")
        .agg(
            F.array_sort(F.collect_list("v")).alias("ids"),
            F.sum("c").alias("s"),
        )
        .join(F.broadcast(small), "k")
        .select("k", "s", F.explode("ids").alias("x"))
        .distinct()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def sf_tables(spark: SparkSession, sf_dir: str, *names: str):
    "Load driver test-data parquet tables as DataFrames."
    dfs = [spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names]
    return dfs[0] if len(dfs) == 1 else dfs
