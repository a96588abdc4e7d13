"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings (AQE, Arrow, UTC,
shuffle-partition sizing) are what we'd ship to a real cluster, where
only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cap_blas_threads(n: int = 1) -> None:
    """Cap the driver-side BLAS pool: the GLM solvers' numpy kernels are
    small-matrix ops (p ~ 5-2000 columns) where a 32-thread BLAS burns
    ~10x the CPU of a 4-thread one for identical wall time (measured:
    36-61s vs 5-6s CPU per binomial path fit at sf0.1). Executor-side
    python workers are unaffected — pyspark pins their OMP_NUM_THREADS
    to the task's cores (verified on this build: workers report
    OMP_NUM_THREADS=1 regardless of the driver env).

    Round 14: the default cap is 1, not 4. Interleaved same-window A/B
    on the binomial path solve (this OpenBLAS is built MAX_THREADS=2,
    so 4 and 2 behave alike): threads=1 reads 0.565 s wall / 1.3 s CPU
    vs 0.651/3.06 at 2 — the threaded path's spin-wait burns 2.3x the
    CPU for ~15% MORE wall even on an idle host, and on a loaded
    driver (the bench's 32-core round-robin) the spinning is what the
    round-13 driver artifact recorded as glm_binomial_path 3.17 s wall
    / 8.2 s CPU. A driver co-resident with the scheduler should never
    spin a BLAS pool.

    Called from the entry points that own the process (get_spark,
    bench.py) rather than at package import, so merely importing
    sgdnet_spark never mutates a host application's threading. Env vars
    are setdefault-only (an explicit user setting wins) and cover the
    numpy-not-yet-imported case; if numpy's OpenBLAS is already loaded
    we additionally set its pool size through the runtime API, which is
    what still works after the env has been read."""
    import sys

    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, str(n))
    if "numpy" not in sys.modules:
        return  # env alone is enough: OpenBLAS reads it at load time
    try:
        import ctypes

        seen: set[str] = set()
        with open("/proc/self/maps") as fh:
            for line in fh:
                path = line.rstrip("\n").split(" ", 5)[-1].strip()
                if "openblas" in path.lower() and path not in seen:
                    seen.add(path)
                    lib = ctypes.CDLL(path)
                    for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
                        fn = getattr(lib, sym, None)
                        if fn is not None:
                            fn(int(n))
                            break
    except Exception:
        pass  # non-linux / static BLAS: the env setdefault is all we can do


def _host_driver_mem() -> str:
    """Half of this host's RAM, in whole GB (at least 1g)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, kb // (2 << 20))}g"


def get_spark(app_name: str = "sgdnet_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """The session every entry point uses. ``SPARK_GRAFT_CPUS`` (default:
    the CPUs this process may run on) sets local[N] and the default
    shuffle partitions; ``SPARK_GRAFT_DRIVER_MEM`` (default: half the
    host's RAM) sets the driver heap."""
    cap_blas_threads(1)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the UI is off by default (its listener bus measurably slows
        # CPU-heavy 32-task stages); SPARK_GRAFT_UI=true re-enables it
        # for interactive plan/stage inspection only
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.port", "0")
        # 1g code cache: a many-query session generates thousands of
        # Janino/whole-stage-codegen classes; at the JDK default (240m)
        # the JIT shuts off mid-session ("CodeCache is full") and
        # expression-heavy operators degrade 5-10x to interpreted speed
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.net.preferIPv4Stack=true -XX:ReservedCodeCacheSize=1g",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Above this input size spread_small_input never repartitions: the scan's
# own byte-splits already give >= cap/maxPartitionBytes (~64 at defaults)
# map tasks, and a blind full repartition would shuffle real data for a
# bounded parallelism gain. Below it the shuffle is cheap by definition.
_SPREAD_MAX_BYTES = 8 << 30


def spread_small_input(df):
    """Repartition a batch frame up to the session's parallelism IF the
    source is small enough that the scan yields fewer splits than cores.

    Small single-file parquet inputs (the local testdata) arrive as 1-3
    partitions, which serializes CPU-heavy per-row work (shingling,
    minhash signatures, feature assembly) onto as many cores. The
    decision is made from the optimized plan's size-in-bytes statistic
    (driver-side file-index metadata — no plan-to-RDD conversion, which
    the round-9 review flagged as per-call overhead): estimated
    scan splits = ceil(bytes / spark.sql.files.maxPartitionBytes). Two
    guards keep this a no-op everywhere but the small-file artifact:
    inputs larger than ``SPARK_GRAFT_SPREAD_MAX_BYTES`` (default 8 GiB)
    are never touched — their scans already carry >= ~64 splits of
    parallelism, so a many-core cluster never pays a full shuffle on a
    large-but-few-files table — and at real scale a 100 TB table
    estimates thousands of splits anyway. Streaming frames are returned
    untouched (partitioning is undefined for them)."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        qe = df._jdf.queryExecution()
        # idempotence: size stats describe the SCAN, so they cannot see
        # that a caller (or an earlier spread) already repartitioned —
        # skip if the logical plan carries any repartition operation
        if "Repartition" in qe.analyzed().toString():
            return df
        size = int(str(qe.optimizedPlan().stats().sizeInBytes()))
        mpb = int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    except Exception:  # non-SQL-backed or unresolvable plan: leave as-is
        return df
    cap = int(os.environ.get("SPARK_GRAFT_SPREAD_MAX_BYTES", str(_SPREAD_MAX_BYTES)))
    if size > cap:
        return df
    est_splits = -(-size // max(mpb, 1))
    if est_splits < target:
        return df.repartition(target)
    return df


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize_events_ts(df):
    """``ts`` → TimestampType, whatever physical encoding shipped.

    The table has shipped with two encodings: TIMESTAMP(NANOS) — which
    Spark can only read as long (legacy conf) and we truncate to micros
    with exact integer DIV (= DuckDB's view) — and plain micros, which
    reads natively as TIMESTAMP_NTZ and is cast to TimestampType. THE
    one normalization recipe, shared by the batch reader below AND the
    streaming reader (streaming/events.py) so the two modes can never
    disagree on a timestamp."""
    from pyspark.sql import functions as F

    if df.schema["ts"].dataType.simpleString() == "bigint":
        # integer DIV, not /1000: epoch nanos (~1.7e18) exceed double's
        # 2^53 exact range — float division can shift boundary
        # timestamps one microsecond off DuckDB's integer truncation
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events(spark: SparkSession, sf_dir: str):
    """events.parquet with ``ts`` normalized to TimestampType.

    THE one batch events reader: queries._t and load_tables both route
    through it so views and query frames can never disagree on ts."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load every testdata table as a DataFrame and register temp views
    (events through the same ts normalization queries use)."""
    out = {}
    for name in TABLES:
        if name == "events":
            df = read_events(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
