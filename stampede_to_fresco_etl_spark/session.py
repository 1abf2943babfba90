"""SparkSession factory with the engine's canonical configuration.

The reference pipeline hand-rolled memory watermarks, thread pools and
zstd parquet writing (step-2/consumer.py:26,556-562); here those become
session configs: unified memory manager + AQE + zstd codec. Timestamps
in the reference are naive strings parsed without timezone
(step-1/data_processor.py:102), so the session timezone is pinned to
UTC to make parsing deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on: the
    default local master width and shuffle partition count.  On a
    real cluster the submitter overrides master/shuffle partitions.
    AQE re-coalesces shuffle partitions at runtime, so a generous
    static number is safe."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


def codegen_compiles(spark: SparkSession) -> int:
    """Classes this JVM has compiled for generated code so far: each
    is a miss of the codegen class cache."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "stampede-to-fresco-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the canonical SparkSession.

    Scale-relevant choices, in one place:
      - AQE on: runtime shuffle-partition coalescing, skew-join
        splitting, dynamic broadcast conversion — replaces the
        reference's hand-tuned batch sizes (step-2/consumer.py:329-343).
      - zstd parquet: matches the reference sink
        (step-2/consumer.py:556-562) and is the right codec at 100 TB.
      - UTC session timezone: naive-timestamp determinism.
      - Arrow enabled: fast toPandas / pandas-UDF exchange.
      - codegen class cache of 8192 entries
        (`spark.sql.codegen.cache.maxEntries`, Spark's default 100):
        the engine's compiled classes survive from one pass to the
        next.  At 100, a warm CORE_V2 pass recompiled 647 of its 650
        classes; one bench.py pass compiles 1,784 distinct classes and
        one registry pass 3,649, each after warm-up's 154.  The cache
        is sized once per JVM, so every session of this engine is
        built here (see the comments at the conf).
    """
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor (default 1m) binds whenever a stage's
        # total shuffle bytes < cores x floor, and a 1 MB partition of
        # zstd-compressed narrow columns holds ~0.5M rows — window /
        # scan-heavy stages over such data run 1-2 tasks while their
        # per-ROW compute, not their bytes, is the cost (t9 0.86->0.44 s,
        # o2 1.10->0.58 s, a45/w5/w22 -30..-37%, nothing slower;
        # OPTIMIZATION_r12.md).  256k keeps partitions >=~100k rows so
        # tiny-task overhead stays amortized; the floor is scale-neutral
        # (it only matters when a stage's shuffle is smaller than
        # cores x 1 MB — on a big cluster exactly the same
        # under-parallelization), and env-overridable for re-tuning.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_COALESCE_PARTITION_SIZE", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns every explode(expr) into an
        # inferred `size(expr)>0 AND isnotnull(expr)` filter that
        # predicate pushdown then copies BELOW exchanges — for the
        # ANN serving plans that filter embeds the whole 64-centroid
        # routing expression (a 4096-literal matrix + per-row argsort)
        # and re-evaluates it on the serial scan-side map task
        # (measured: v21 2.2 -> 0.96 s at sf0.1, r12).  Every
        # generator in this engine yields fixed-arity non-empty
        # arrays (routing cells, band structs, offset grids), so the
        # inferred empty-prune can never drop a row here — at any
        # scale it is pure duplicated compute; text/window families
        # measured flat without it (OPTIMIZATION_r12.md).
        # per-DataFrame-call Python call-site capture (error-message
        # context only) costs a conf round trip + origin set/clear on
        # EVERY DataFrame method; measured ~0.2-0.4 s of the heavy
        # serving/report queries' per-call plan construction (r12).
        # Purely diagnostic — plans and results are unaffected.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Spark keeps compiled generated classes in one JVM-wide LRU
        # cache, 100 entries by default.  The 45 CORE_V2 queries alone
        # compile ~650 classes, so every warm catalog pass evicted and
        # recompiled nearly all of them (647 of 650; a warm pass took
        # 21-22.7 s, and 12.7-13.5 s with the classes kept).  Distinct
        # classes measured on 4 cores, after `warm_shared_frames`' 154:
        # one pass of bench.py's 118 headline queries at sf0.1 compiles
        # 1,784, one pass of the 305-query registry at sf0.01 3,649 (a
        # second registry pass then compiles 112).  8192 holds the
        # larger, 3,803 with warm-up, with headroom for Guava's
        # per-segment LRU (4 segments of 2048).  Metaspace grew ~3 MB
        # for the CORE_V2 working set.  A static conf: it binds once
        # per JVM, when the cache is built (see below).
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # The codegen class cache is sized when Spark's CodeGenerator
    # object initializes, from the conf of the session active on that
    # JVM thread.  A thread with no active session (a py4j thread
    # serving a Python worker thread, as in `warm_shared_frames`)
    # sizes it from Spark's defaults, so initialize it here, on the
    # thread that just built the session.
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    codegen.CodeGenerator.isValidParamLength(0)
    return spark
