"""SparkSession factory with scale-oriented defaults.

Local test profile runs on ``local[N]`` but every knob is chosen so the same
code runs unchanged on a multi-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow on (vectorized pandas-UDF
boundary), shuffle partitions sized to the parallelism at hand rather than
the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 16g: two sessions (a
    test suite and a checker) then fit on one machine side by side."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 >> 20
    return f"{min(half_mb, 16 << 10)}m"


def get_spark(
    app_name: str = "apache_cassandra_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores);
    ``SPARK_GRAFT_DRIVER_MEM`` the driver heap (default: half the
    physical memory, at most 16g).
    On a real cluster, pass ``master=None`` with spark-submit-provided master.
    """
    # Python workers import this package by name inside pandas-UDF /
    # mapInPandas closures; they inherit PYTHONPATH, not the driver's
    # sys.path. Export the repo root so a driver launched from any cwd
    # works (cluster equivalent: ship the package via --py-files/wheel).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: one shuffle partition per core; cluster: override upward.
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd parquet for everything the engine writes (store flushes,
        # compactions): measured vs snappy on the bench store (r14,
        # orders cells, 4-cycle interleaved medians) — write times
        # statistically unchanged (insert 0.93 vs 0.91s, compact 2.21
        # vs 2.27s), store 33% smaller (3.8 vs 5.7 MB), read ops no
        # slower. At scale the size cut is pure I/O savings on every
        # subsequent scan/compaction (optimization guide §6).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # compacted CFs are bucketed by key; cross-CF joins add the column
        # coordinate to the join keys. Allow subset-of-join-keys
        # co-partitioning (the pre-3.3 behavior) so HashPartitioning(key)
        # on both sides satisfies the (key, column) join with NO exchange —
        # the co-located bucket-join design point (read.join_cf).
        # Session-wide by design, not per-operator: the conf is read at
        # PLAN time (action), so a set/restore around DataFrame
        # construction would not stick, and it is always semantics-safe —
        # equal join keys still co-locate under any subset partitioning;
        # the only trade is reusing the existing partition count/skew
        # instead of reshuffling, which for this engine's key-bucketed
        # tables is exactly the intent.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Keep every generated class across queries. The default cache
        # holds 100 classes over four Guava segments, so each pass of
        # the registry recompiled ~2,600 classes with Janino (and the JIT
        # compiled them again). One pass of the 156 queries at sf0.001
        # generates about 1,400 distinct classes; 4,096 holds them with
        # room for the segment split, and a second pass then compiles 14
        # (SCALE.md).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Leave the whole-stage id out of generated class names. AQE can
        # number a query's stages differently from run to run, and the
        # id in the name made an identical pipeline a new class:
        # corpus_bm25_topk recompiled 8-12 classes on every run.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Do not record the Python call site of every Column and DataFrame
        # call for error messages: each record costs about ten py4j round
        # trips, and a query builder makes hundreds of such calls.
        # Building analytics_mix's three queries took 1,211 ms with it and
        # 836 ms without. Errors still name the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
