"""SparkSession factory tuned for the rollup engine.

Local mode is a single JVM; on a real cluster the same confs apply
(AQE handles runtime re-planning of shuffle partition counts, skew
splitting for joins; UTC session timezone keeps window alignment and
oracle comparison deterministic).

The engine's runtime SQL confs live in one table, ENGINE_CONF, applied
once: by get_spark when it builds a session, and by pin_session_conf on
a session the engine did not build. No operator writes a session conf.
Every batch that crosses the Python boundary is bounded by two caps
from that table: a record cap sized for narrow rows and a byte cap that
cuts wide rows (Gorilla chunks, media payloads) first.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: pin_session_conf merges the engine's excluded optimizer rule into a
#: host session's own exclusions instead of replacing them
_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"

#: runtime SQL confs the engine relies on, with the reason for each
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing is byte-based and blind to CPU density: the ANN
    # rerank's ~1M id-pair shuffle compresses to ~128 KB, so AQE
    # coalesced it to 1-2 partitions and serialized ~8s of interpreted
    # dot-product CPU on one core (measured: ivf_topk 14.4s -> 7.9s
    # cold once spread). 4k floor: large shuffles still coalesce toward
    # totalBytes/parallelism exactly as before; genuinely tiny shuffles
    # get at most `parallelism` sub-millisecond tasks, which is noise
    # next to the seconds a mis-coalesced CPU-dense stage costs.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Record cap, sized for narrow rows (codec encode, packing,
    # similarity): 256k-row batches (Spark default 10k) amortize
    # per-batch IPC/GIL overhead; 256k beat 64k in every adjacent pair
    # of the r4 ABAB (BENCH/BASELINE.md "Arrow batch-size A/B"). An
    # encode row (series_id, agg, chunk_start, epoch, value) is ~48 B,
    # so its batches stay at 262,144 rows (~11 MiB) under the byte cap.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
    # Byte cap, which cuts wide rows (a Gorilla chunk with multi-KB bit
    # blobs, a media payload) long before the record cap. Probe on
    # Spark 4.1.2 with 16 KB rows (mapInArrow and mapInPandas alike):
    # unset, batches held 4,093 rows (64 MB); at 32 MB they hold 2,047,
    # the 2048-chunk decode batch that r4 sized worker memory for (r4
    # ADVICE). Decode memory is bounded on top of that by
    # DECODE_FLUSH_POINTS.
    "spark.sql.execution.arrow.maxBytesPerBatch": str(32 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # int64 micros, NOT the legacy INT96 default: INT96 columns get no
    # parquet min/max statistics, which kills footer-based retention
    # pruning (store.prune_older_than) and row-group skip
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # InferFiltersFromGenerate duplicates the generator's input
    # expression into a pre-filter (size>0 AND isnotnull) that
    # filter-pushdown then inlines through every projection alias with
    # no multi-reference guard — for expensive array expressions
    # (shingling, band keys) the "optimization" costs far more than the
    # empty-row skip it buys. Our explodes are over arrays that are
    # non-empty by construction.
    _EXCLUDED_RULES: "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def _default_heap() -> str:
    """min(24g, half of physical memory), in whole GiB (at least 1g)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys // 2 // 1024**3))}g"


def get_spark(
    app_name: str = "opentsdb_rollup_rust_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session with engine defaults (ENGINE_CONF).

    ``master`` defaults to local[$SPARK_GRAFT_CPUS] (or local[*]).
    ``shuffle_partitions`` defaults to the local core count — the
    right number for local mode; on a cluster you would size it to
    ~2-3x total executor cores (or let AQE coalesce from a high
    initial value). The driver heap defaults to min(24g, half of
    physical memory); ``SPARK_DRIVER_MEM`` overrides it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = (os.cpu_count() or 8) if cpus == "*" else int(cpus)

    mem = os.environ.get("SPARK_DRIVER_MEM") or _default_heap()
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
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> None:
    """Apply ENGINE_CONF to a session we did not create (e.g. the one
    handed to __spark_entry__.entry). All entries are runtime-settable.
    The excluded optimizer rule is merged into the session's own list,
    never clobbering it."""
    for k, v in ENGINE_CONF.items():
        if k == _EXCLUDED_RULES:
            current = spark.conf.get(k, None) or ""
            rules = [r for r in current.split(",") if r]
            v = ",".join(rules if v in rules else [*rules, v])
        spark.conf.set(k, v)
