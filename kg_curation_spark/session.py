"""SparkSession factory with scale-oriented defaults.

Tuned for correctness runs on local[N] but configured the way the job would
ship to a 1000-executor cluster: AQE on (coalesce + skew-join), Arrow
transport for every pandas UDF, bounded shuffle partitions, and broadcast
threshold sized for the dimension tables this engine uses (candidate label
index, class hierarchy, constraint tables — all small relative to the fact
tables they join).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

# Arrow/Spark fixed widths in bytes, by DataType.typeName(); variable-width
# types (string, binary, nested) are absent.
FIXED_WIDTH = {
    "boolean": 1, "byte": 1, "short": 2, "integer": 4, "long": 8,
    "float": 4, "double": 8, "date": 4, "timestamp": 8, "timestamp_ntz": 8,
}


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: $SPARK_DRIVER_MEM when set, else about 60%
    of the host's MemTotal, capped at 48g, so the heap can never outgrow
    the host (a 48g heap on a 15 GB host is OOM-killed by the kernel).
    Falls back to 48g when MemTotal cannot be read."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    return f"{min(48 * 1024, kb * 6 // 10 // 1024)}m"


def broadcast_budget(spark: SparkSession) -> int:
    """The session's one broadcast byte budget, from
    ``spark.sql.autoBroadcastJoinThreshold`` (parsed by Spark itself, so
    "64MB"-style values work). Adaptive operator gates that pull a relation
    to the driver or broadcast it compare their byte estimate to this;
    0 means never (the conf's -1 and 0 both disable)."""
    n = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return max(0, int(n))


def estimated_row_bytes(schema: StructType) -> int:
    """Spark's own per-row size estimate (EstimationUtils.getSizePerRow):
    8 bytes of row overhead plus each column's default size, 20 bytes for
    a string or any other variable-width column."""
    return 8 + sum(FIXED_WIDTH.get(f.dataType.typeName(), 20) for f in schema)


def get_spark(
    app_name: str = "kg_curation_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: cores for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(parallelism, 32) — at cluster scale
    this would be set ~2-3x total cores; AQE coalesces down from there.
    """
    cpus = parallelism or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = f"local[{cpus}]"
    # multi-JVM executor mode: each executor gets its OWN heap + GC, the
    # faithful single-box stand-in for an N-executor cluster (used by
    # tools/scaling_bench.py KG_SCALE_MASTER=cluster). Format: "N_exec x
    # cores_per_exec x mem_mb" via SPARK_GRAFT_CLUSTER="4,2,12288".
    cluster = os.environ.get("SPARK_GRAFT_CLUSTER")
    py_files = None
    if cluster:
        workers, cores, mem = (int(x) for x in cluster.split(","))
        master = f"local-cluster[{workers},{cores},{mem}]"
        cpus = workers * cores
        # executors run their OWN python workers with their own sys.path:
        # ship this package exactly as `spark-submit --py-files` would
        # (the north rule's deployment contract)
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        # per-process unique dir: a fixed path would let two concurrent
        # sessions (or a scaling-bench child racing its parent) overwrite
        # each other's archive while executors are still fetching it.
        # atexit removes the dir at process exit so repeated sessions
        # (tests, bench legs) never accumulate archives in the tempdir.
        import atexit

        zip_dir = tempfile.mkdtemp(prefix="kgcs_pyfiles_")
        atexit.register(shutil.rmtree, zip_dir, ignore_errors=True)
        py_files = shutil.make_archive(
            os.path.join(zip_dir, "kg_curation_spark_pkg"),
            "zip",
            os.path.dirname(pkg_dir),
            os.path.basename(pkg_dir),
        )
    n_shuffle = shuffle_partitions or (
        int(cpus) if str(cpus).isdigit() else 32
    )
    n_shuffle = max(n_shuffle, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning, partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Arrow for every pandas UDF / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables (label index, class DAG, constraints) stay well
        # under this; fact-side joins then become broadcast hash joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scan granularity. The classic 128 MB default targets
        # scan-light SQL; this engine runs CPU-heavy Arrow UDFs (regex
        # extraction, embedding math) per input byte, so smaller splits are
        # needed to keep every core fed (≥2-3 tasks/core). AQE coalesces
        # the excess, so small splits cost little on scan-light stages.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(16 * 1024 * 1024),
        )
        .config("spark.driver.memory", driver_memory())
        # Throughput GC: G1's concurrent cycles collapse under 32 mutator
        # threads churning wide string rows (measured 3-5x slowdowns on
        # materialization-heavy stages in local mode); ParallelGC restores
        # linear behavior for this batch workload.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        # in local-cluster (multi-JVM) mode the tasks run in executor JVMs
        # — give them the same throughput-GC setting as the driver
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if py_files:
        builder = builder.config("spark.submit.pyFiles", py_files)
    if cluster:
        # local-cluster's per-worker memory only caps what the worker may
        # hand out — the executor JVM itself defaults to 1g and OOMs on the
        # first broadcast unless sized to the worker
        _, _, mem_mb = (int(x) for x in cluster.split(","))
        builder = builder.config("spark.executor.memory", f"{mem_mb}m")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

