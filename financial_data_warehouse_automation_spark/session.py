"""SparkSession factory tuned for this harness and for scale-out.

Local harness: one JVM, ``local[$SPARK_GRAFT_CPUS]`` threads. The same
configs are the right defaults on a real cluster: AQE for runtime
re-planning (partition coalescing, skew-join splitting, join-strategy
switch), Arrow for any pandas exchange, UTC session time so parquet
timestamps compare deterministically against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Spark's generated-code cache (whole-stage and expression classes) is an
# LRU of spark.sql.codegen.cache.maxEntries, 100 by default, and a Guava
# cache split into 4 segments, so it evicts before it is full. The whole
# registry (262 queries, sf0.01) compiles 3,618 distinct classes with
# stage ids in class names (3,175 without, see below) and the 14-query
# basket about 300, so at 100 entries a warm pass recompiled almost
# everything: 4,359-5,032 classes per registry pass, 250-318 per basket
# pass; at 8192, 6-80 and 0-18. 8192 is the 3.6k-class working set with
# 2x headroom for the segmenting. Evicted classes are not unloaded
# promptly, so a large cache costs no extra metaspace (248 MB unbounded
# vs 254 MB at the default, over two registry passes).
CODEGEN_CACHE_ENTRIES = 8192


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def driver_mem() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` if set, else min(16g, half of physical
    memory): a 16g heap on a 15 GB machine gets the JVM OOM-killed."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) so far in this JVM.

    Both counters are JVM-global, so in local mode they cover the
    driver's and the executor threads' compiles: the class count is
    ``CodegenMetrics``' compile-time histogram count, the time is
    ``CodeGenerator.compileTime`` (nanoseconds, an exact sum).
    """
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return int(n), ns / 1e6


def get_spark(app_name: str = "financial_data_warehouse_automation_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``spark.sql.shuffle.partitions`` is sized to the executor-thread
    count: at 100 TB on a 1000-executor cluster this knob is instead
    left to AQE (``coalescePartitions``) with a high initial value; on
    local[N] a small fixed value avoids tiny-partition overhead.
    """
    n = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem())
        .config("spark.ui.enabled", "false")
        # static conf: only the builder of the first session can set it
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # With AQE the whole-stage codegen ids follow the order in which
        # query stages are created, which varies from run to run, and the
        # id is part of the generated class name, so a renumbered plan
        # recompiles classes the cache already holds (ingest_warehouse_build:
        # 18 classes in the basket's second pass). Without the id the
        # same stage code is one cache entry in every query and every
        # pass; the cold basket pass compiles 265 classes instead of 295.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Spark 4's PySpark call-site capture (DataFrame debugging) adds
        # a conf-read RPC + origin set/clear RPCs + a Python stack walk
        # to EVERY DataFrame API call — pure driver-side overhead in the
        # hot build path (profiled: ~650 py4j round trips per basket
        # query build, a visible slice of them from this wrapper; builds
        # 0.10-0.25s -> 0.04-0.17s with it off). Cost grows with driver
        # RPC latency, so the win is LARGER on a real cluster (remote
        # driver<->gateway) than on local[N]. Trade-off: error messages
        # lose the Python call-site line; acceptable for a production
        # engine, and exceptions keep their full JVM context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # InferFiltersFromGenerate copies each explode's input expression
        # into a `size(e) > 0 AND e IS NOT NULL` filter that predicate
        # pushdown then sinks below the spread_by exchange — for this
        # engine's explodes the input is always a DERIVED array (split /
        # shingle / band / sequence), so the "filter" re-evaluates the
        # full array construction once per row in the narrowest stage of
        # the plan (the single-row-group scan) and prunes nothing: a
        # size() predicate on a computed array cannot reach parquet as a
        # PushedFilter at any scale. Measured at sf0.1:
        # doc_minhash_lsh_pairs 2.2-2.9s -> 1.7s (the shingle expression
        # had been evaluated twice, once serialized on the scan task);
        # every other text query flat-to-faster. Rule exclusion is
        # semantics-preserving by contract (only excludable optimizer
        # rules honor this conf).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
