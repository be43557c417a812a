"""SparkSession factory and the sf table loader.

Local-mode defaults are tuned for the test harness (``local[N]``, one JVM),
but every knob is chosen so the same code runs unchanged on a real cluster:
AQE handles skew and partition coalescing at runtime, shuffle partitions
default to the host's cores (``cluster_conf`` gives a cluster-sized value),
and Arrow is enabled for the Pandas-UDF kernels (DBSCAN, ODR, similarity).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def host_cpus() -> int:
    """Local cores and default shuffle partitions: ``SPARK_GRAFT_CPUS``
    when exported, else the cores this process may run on."""
    exported = os.environ.get("SPARK_GRAFT_CPUS")
    if exported:
        return int(exported)
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEM`` when exported, else
    half the host's physical memory, capped at 64g.  The heap grows
    lazily toward its maximum, so a fixed 64g default let a long-lived
    local JVM outgrow a small host and be OOM-killed mid-run."""
    exported = os.environ.get("SPARK_DRIVER_MEM")
    if exported:
        return exported
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 64 << 30) >> 20}m"


def get_spark(
    app_name: str = "dataslicer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a cluster, drop ``master`` (spark-submit supplies it) — every other
    setting carries over.  AQE is on so runtime statistics re-plan joins
    (broadcast conversion, skew-join splitting, partition coalescing).
    """
    cpus = host_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # allow Python DataSource readers (sources/fits_datasource.py) to
        # receive pushed filters via pushFilters (Spark 4.1 opt-in)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # whole-stage codegen emits one JIT-compiled class per plan
        # fragment; with ~76 registered queries the JDK-default 240 MB
        # code cache saturates mid-run and HotSpot silently stops
        # compiling — later large plans then run interpreted (measured:
        # the flagship pipeline degrades 16 s → 74 s when scheduled after
        # the full registry).  1 GiB gives the local single-JVM harness
        # the same headroom a long-lived cluster driver/executor gets.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """Recommended conf overrides for a real multi-executor deployment —
    pass as ``extra_conf`` to :func:`get_spark` (or to spark-submit).

    Rationale per knob:

    - ``shuffle.partitions`` ≈ 2-3× total cores: every core busy through
      stragglers, partitions still big enough to amortize task overhead;
      AQE coalesces down when a stage's output is small.
    - ``files.maxPartitionBytes`` fixes scan-task size; with 128 MB
      parquet row groups a 100 TB scan is ~800k tasks — fine — while
      keeping per-task memory bounded.
    - ``advisoryPartitionSizeInBytes`` gives AQE the same target for
      post-shuffle coalescing and skew-split sizing.
    - ``autoBroadcastJoinThreshold`` stays conservative (64 MB): our
      dimension tables (metadata, calibrators, dust, centroids) are
      well under it; bigger sides should shuffle, not OOM the driver.
    - ``shuffle.service.enabled`` / speculation: standard long-job
      hygiene on shared clusters (harmless locally, left to deployment).
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }


# Confs whose values change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# session -> {absolute path: (files and inference confs read with, schema)}
_SCHEMAS: WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, StructType]]] = (
    WeakKeyDictionary()
)


def _listing(path: str) -> tuple[str, tuple] | None:
    """(absolute path, its files) for a local ``path``: each file's
    (name, size, mtime_ns) under a directory, or the file's own (size,
    mtime_ns).  ``None`` when ``path`` is not local or does not exist."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = os.path.abspath(url.path if url.scheme else path)
    if os.path.isfile(local):
        st = os.stat(local)
        return local, ((st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(local):
        return None
    files = []
    for root, _, names in os.walk(local):
        for name in names:
            f = os.path.join(root, name)
            st = os.stat(f)
            files.append((os.path.relpath(f, local), st.st_size, st.st_mtime_ns))
    return local, tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local path's schema once
    per session.

    Spark runs one footer-reading job to infer a parquet schema, on every
    read.  This reader keeps the schema Spark inferred in ``spark``, keyed
    by the absolute path, its file listing (each file's name, size and
    ``st_mtime_ns``) and the values of the confs that change inference
    (``_INFERENCE_CONFS``); a repeat read with the same key declares that
    schema and runs no job.  A rewritten table or a flipped conf is
    re-inferred.  Non-local (``scheme://``) paths read as plain
    ``spark.read.parquet``."""
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path)
    local, files = listing
    stamp = (files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    schemas = _SCHEMAS.setdefault(spark, {})
    hit = schemas.get(local)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[local] = (stamp, df.schema)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load one or more parquet tables from an sf directory.

    Returns a single DataFrame for one name, else a dict.  Scans are lazy;
    Catalyst pushes projection and predicates into the parquet reader.
    Each table is read through :func:`read_parquet`, so only the first
    load of a table in a session runs Spark's schema-inference job; the
    schema is re-inferred when the table's files (name, size, mtime) or
    the parquet inference confs change.
    """
    dfs = {n: read_parquet(spark, os.path.join(sf_dir, f"{n}.parquet")) for n in names}
    if len(names) == 1:
        return dfs[names[0]]
    return dfs
