"""SparkSession factory + table loading.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
- A *fixed* ``spark.sql.shuffle.partitions`` matters for the iterative
  Pregel loop (hama_spark.plans.pregel): keeping the same hash
  partitioning across iterations lets Spark reuse exchange outputs
  instead of re-planning a different partitioning per superstep.
- Arrow enabled for the few Pandas-UDF paths (vector kernels,
  multimodal decode) — everything else stays JVM-side.

On a real cluster these settings come from spark-submit; this factory
is for tests / local bench (local[N]).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "hama_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you'd size this to ~2-3x total executor cores and rely on
    AQE coalescing.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"

    def _local_dir() -> str:
        env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if env is not None:
            return env or tempfile.gettempdir()
        # per-user path: a shared fixed dir would be owned by the first
        # user and unwritable for the next
        shm = f"/dev/shm/hama_spark_local_{os.getuid()}"
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            return shm
        return tempfile.gettempdir()
    if shuffle_partitions is None:
        # SPARK_GRAFT_SHUFFLE overrides for bench experiments; default =
        # core count (a real cluster sizes this via --conf at submit)
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one BLAS thread per Python worker: local[32] runs 32 workers,
        # and multithreaded OpenBLAS inside each (its default) thrashes
        # the same cores — measured 30x wall inflation on the large-k
        # k-means assignment matmul before pinning this
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # local-mode shuffle files on tmpfs: tiny-block shuffles are
        # fsync/inode-bound on disk — measured ~480 -> ~290 ms per
        # 32-partition shuffle job on this box. LOCAL tuning only: a
        # real cluster sets its own spark.local.dir at submit (and this
        # config is ignored there when the cluster manager provides
        # dirs). Override with SPARK_GRAFT_LOCAL_DIR=/path or "" to
        # keep Spark's default.
        .config("spark.local.dir", _local_dir())
        .config("spark.sql.session.timeZone", "UTC")
        # driver parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in load_tables (matches
        # DuckDB's truncation to microseconds).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Iterative algorithms checkpoint to cut lineage (SURVEY §4 O10).
    ckpt = os.environ.get("SPARK_GRAFT_CKPT_DIR", "/tmp/hama_spark_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    return spark


# timestamp columns in the driver parquet. Two generations of testdata
# exist: TIMESTAMP(NANOS) (surfaced as long by nanosAsLong) and plain
# TIMESTAMP(MICROS) with no UTC flag (surfaced as timestamp_ntz). Both
# are normalized to TimestampType (session TZ pinned to UTC) so query
# code sees ONE type and results line up with the DuckDB oracle.
NANO_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load the driver parquet tables from ``sf_dir`` as a dict of DataFrames.

    Works on ANY SparkSession, not just ones built by :func:`get_spark`:
    the driver parquet stores TIMESTAMP(NANOS) which Spark cannot read
    natively, so the runtime-settable ``nanosAsLong`` escape hatch is
    applied here (a foreign session — e.g. the external correctness
    harness — would otherwise die with PARQUET_TYPE_ILLEGAL before any
    operator runs).
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamps must compare in UTC like the DuckDB oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # perf confs that are runtime-settable: a foreign session otherwise
    # runs with shuffle.partitions=200, which at test SFs is pure
    # scheduling overhead. Only override the partition count when it is
    # still at Spark's stock default — a submit-time --conf (how a real
    # cluster sizes it) must win over this local heuristic.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    out: dict[str, DataFrame] = {}
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        for c in NANO_TS_COLS.get(t, ()):
            dt = dict(df.dtypes).get(c)
            if dt == "bigint":
                # floor-div to microseconds == DuckDB's nanos->micros truncation
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
            elif dt == "timestamp_ntz":
                # micros parquet with no UTC flag; session TZ is UTC so the
                # cast is a pure type change (same wall-clock instant)
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        out[t] = df
    return out
