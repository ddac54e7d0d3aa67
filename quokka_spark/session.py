"""SparkSession construction tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-planning, skew-join handling, partition coalescing), Arrow
on (every pandas/NumPy exchange is vectorized), shuffle partitions
sized to the core count rather than Spark's legacy default of 200.

At 100 TB these same knobs are what matter, with shuffle partitions
scaled to ~2-3x total cores and `spark.sql.files.maxPartitionBytes`
kept at 128-256 MB so scan tasks stay memory-bounded.

A QuokkaContext is long-lived and runs the same query shapes again and
again, so the session also sizes Spark's generated-code cache
(`spark.sql.codegen.cache.maxEntries`, an LRU of compiled classes) to
the engine's working set. Spark's default cap is 100 entries; one pass
of the 22 TPC-H queries compiles about 255 distinct classes, and a
cyclic working set larger than an LRU misses on every access, so with
the default every repeated TPC-H query recompiles all of its code. With
CODEGEN_CACHE_ENTRIES a repeated query compiles nothing and reuses
bytecode the JVM has already JIT-compiled. The cap is a static SQL
conf, and Spark builds the cache once per JVM, the first time it
generates code: a session built outside build_spark and handed to
QuokkaContext(spark=...) keeps its own cap (100 unless it set one),
and changing the conf at runtime has no effect.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Spark's own parallelPartitionDiscovery.threshold default: above this
# many input paths a DISTRIBUTED listing job runs, which is the right
# call on object stores (LIST ~10-50 ms/call) and the wrong one on
# local filesystems (~0.1 ms/stat vs ~1 s of job overhead; measured: a
# 500-file local read plans 1.10 s -> 0.13 s listed on the driver).
SPARK_DISCOVERY_THRESHOLD_DEFAULT = 32
LOCAL_DISCOVERY_THRESHOLD = 8192

# spark.sql.codegen.cache.maxEntries (Spark's default: 100). Counted on
# a session whose cache never evicts (sf0.01, 4 cores): one pass of the
# 22 TPC-H queries compiles 255-261 distinct classes, one pass of the
# whole __spark_entry__ registry (204 queries) about 2230, and a second
# registry pass only 24 (queries that inline per-run literals). The
# smallest power of two that holds the registry's set: 16x one TPC-H
# pass. A cached class holds ~21 KB of JVM metaspace (233 TPC-H
# classes: +4.9 MB), so a full cache costs ~86 MB.
CODEGEN_CACHE_ENTRIES = 4096


def _listing_threshold(input_root: str | None) -> int:
    """Scheme-aware file-listing strategy (round 14, verdict #7 —
    inverts the round-13 opt-out global): driver-side listing is only
    raised when the engine's input root resolves to the local
    filesystem; any remote scheme (s3a://, hdfs://, ...) keeps
    Spark's default so distributed listing still amortizes
    object-store LIST latency without requiring an override.
    SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD stays as the explicit
    escape hatch for mixed deployments. The choice is made once per
    session from $SPARK_GRAFT_SF_DIR: a session whose root is local
    but which also scans remote paths lists those on the driver too
    (serial LIST calls) unless the env var lowers the threshold."""
    env = os.environ.get("SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD")
    if env is not None:
        return int(env)
    from urllib.parse import urlparse
    scheme = urlparse(str(input_root or "")).scheme
    # no scheme or file:// = local; 1-char schemes are Windows drive
    # letters, also local
    if scheme in ("", "file") or len(scheme) == 1:
        return LOCAL_DISCOVERY_THRESHOLD
    return SPARK_DISCOVERY_THRESHOLD_DEFAULT


def build_spark(app_name: str = "quokka_spark", cpus: int | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # local test scale reads single small files; smaller splits keep
        # all cores busy. Cluster deployments should raise this back to
        # 128-256m so scan tasks amortize open/seek costs.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        # File-LISTING strategy is filesystem-dependent, not scale-
        # dependent — resolved from the scheme of the engine's input
        # root ($SPARK_GRAFT_SF_DIR): local roots list on the driver,
        # remote roots keep Spark's distributed-listing default. See
        # _listing_threshold.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(_listing_threshold(
                    os.environ.get("SPARK_GRAFT_SF_DIR"))))
        # static: only takes effect in the JVM's first session to
        # generate code (module docstring)
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
