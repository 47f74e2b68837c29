"""SparkSession factory tuned for the rollup engine.

Local mode is a single JVM; on a real cluster the same confs apply
(AQE handles runtime re-planning of shuffle partition counts, skew
splitting for joins; UTC session timezone keeps window alignment and
oracle comparison deterministic).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Arrow batch rows for NARROW-row Python paths (codec encode, packing,
#: similarity). A/B-measured faster than smaller batches at both
#: parallelism levels (BENCH/BASELINE.md r4).
ARROW_BATCH_NARROW = 262144

#: Arrow batch rows for WIDE-row Python paths (Gorilla chunk decode:
#: one row is a <=4096-point chunk with multi-KB bit blobs; multimodal
#: payloads). 2048 rows ~= tens of MB in and <=8.4M decoded points per
#: input batch — the 256k narrow default here would be multi-GB in and
#: ~10^9 points buffered out, far past 2 g/core executor headroom
#: (r4 ADVICE). Wide-row operators scope the conf down at call time
#: because spark.sql.execution.arrow.maxRecordsPerBatch is
#: session-wide and read at execution.
ARROW_BATCH_WIDE = 2048


def set_arrow_batch(spark: SparkSession, rows: int) -> None:
    """Scope the session-wide Arrow batch size to ``rows`` for the
    queries about to execute. Operators with a strong row-width
    preference (codec encode: narrow; codec decode / multimodal: wide) call
    this when they are invoked; since the engine's job, bench and
    driver-gate flows define-then-execute each query serially, the
    value set at call time is the value in force at execution. A plan
    that composes a narrow and a wide Python stage gets the LAST
    caller's value — compose-time callers can override after building
    the plan."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows))


def get_spark(
    app_name: str = "opentsdb_rollup_rust_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session with engine defaults.

    ``master`` defaults to local[$SPARK_GRAFT_CPUS] (or local[*]).
    ``shuffle_partitions`` defaults to the local core count — the
    right number for local mode; on a cluster you would size it to
    ~2-3x total executor cores (or let AQE coalesce from a high
    initial value).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8 if cpus == "*" else int(cpus)

    mem = os.environ.get("SPARK_DRIVER_MEM", "24g")
    if extra_conf and "spark.driver.memory" in extra_conf:
        mem = extra_conf["spark.driver.memory"]
    # Preset the FULL heap (-Xms == -Xmx): Spark's default 1g -Xms under
    # a large max heap makes the collector thrash/grow instead of
    # collecting lazily — measured 10-14x slower scans, and heap-growth
    # full GCs kept local[32] from reaching steady state for ~7 reps.
    # G1GC (r3; replaces r1's ParallelGC pick): stage forensics on the
    # 24M-seq pipeline showed GC was 14.6% of task time at local[32]
    # under ParallelGC (3.4x the local[8] share — stop-the-world pauses
    # scale badly with worker threads); G1 at the same heap measured
    # 14.8 -> 13.4s/rep at local[32] AND 43.2 -> 40.9s at local[8], so
    # it is faster at every level, not a scaling-ratio trick. On a
    # cluster apply the same via spark.executor.extraJavaOptions.
    java_opts = os.environ.get(
        "SPARK_DRIVER_JAVA_OPTS",
        f"-XX:+UseG1GC -Xms{mem}" if mem.endswith("g") else "-XX:+UseG1GC",
    )

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is byte-based and blind to CPU density: the
        # ANN rerank's ~1M id-pair shuffle compresses to ~128 KB, so
        # AQE coalesced it to 1-2 partitions and serialized ~8s of
        # interpreted dot-product CPU on one core (measured: ivf_topk
        # 14.4s -> 7.9s cold once spread). 4k floor: large shuffles
        # still coalesce toward totalBytes/parallelism exactly as
        # before; genuinely tiny shuffles get at most `parallelism`
        # sub-millisecond tasks, which is noise next to the seconds a
        # mis-coalesced CPU-dense stage costs.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 256k-row Arrow batches (Spark default 10k) for the narrow-row
        # Python stages (codec encode, packing, similarity): bigger
        # batches amortize per-batch IPC/GIL overhead. Wide-row Arrow
        # paths (codec decode, multimodal) scope it down to
        # ARROW_BATCH_WIDE at call time — see set_arrow_batch (r4
        # ADVICE).
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_NARROW)
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        # int64 micros, NOT the legacy INT96 default: INT96 columns get
        # no parquet min/max statistics, which kills footer-based
        # retention pruning (store.prune_older_than) and row-group skip
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # InferFiltersFromGenerate duplicates the generator's input
        # expression into a pre-filter (size>0 AND isnotnull) that
        # filter-pushdown then inlines through every projection alias
        # with no multi-reference guard — for expensive array
        # expressions (shingling, band keys) the "optimization" costs
        # far more than the empty-row skip it buys. Our explodes are
        # over arrays that are non-empty by construction.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> None:
    """Set runtime confs we rely on, on a session we did not create
    (e.g. the verification driver's). All are runtime-settable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # parallelism floor for byte-small CPU-dense shuffles (see factory)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k"
    )
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # merge, never clobber: the host session may exclude its own rules
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    current = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    rules = [r for r in current.split(",") if r]
    if rule not in rules:
        rules.append(rule)
    spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
