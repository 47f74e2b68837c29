"""The engine's session conf contract: one table (session.ENGINE_CONF)
applied at session build or by pin_session_conf, and no operator that
writes a session conf when it is defined or run."""

from __future__ import annotations

import os

from opentsdb_rollup_rust_spark.session import (
    ENGINE_CONF,
    _default_heap,
    pin_session_conf,
)

RULES = "spark.sql.optimizer.excludedRules"


def test_operators_leave_the_session_conf_unchanged(spark, points):
    """encode -> decode -> extract_features -> encode, each defined and
    run in one session: after each one, every session conf is as it
    was."""
    from opentsdb_rollup_rust_spark.codec.gorilla import decode_chunks, encode_chunks
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup
    from opentsdb_rollup_rust_spark.pipeline.multimodal import extract_features

    before = spark.conf.getAll
    r1h = tumbling_rollup(points, "1h")
    chunks = encode_chunks(r1h, "1h")
    assert chunks.count() > 0
    assert spark.conf.getAll == before
    assert decode_chunks(chunks).count() == r1h.count() * 4
    assert spark.conf.getAll == before
    media = spark.createDataFrame(
        [(1, "text", bytearray(b"abc")), (2, "image", bytearray(20_000))],
        "doc_id long, modality string, payload binary",
    )
    assert extract_features(media).count() == 2
    assert spark.conf.getAll == before
    assert encode_chunks(tumbling_rollup(points, "1d"), "1d").count() > 0
    assert spark.conf.getAll == before


def test_pin_session_conf_restores_the_engine_table(spark):
    """On a session whose entries were changed, pin_session_conf sets
    every ENGINE_CONF entry back, and merges the excluded rule into a
    pre-existing excludedRules entry instead of replacing it."""
    changed = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.execution.arrow.pyspark.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.execution.arrow.maxBytesPerBatch": str(1024 * 1024),
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.sql.parquet.outputTimestampType": "INT96",
        RULES: "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
    }
    assert changed.keys() == ENGINE_CONF.keys()
    saved = {k: spark.conf.get(k) for k in changed}
    try:
        for k, v in changed.items():
            spark.conf.set(k, v)
        pin_session_conf(spark)
        for k, v in ENGINE_CONF.items():
            if k != RULES:
                assert spark.conf.get(k) == v, k
        assert spark.conf.get(RULES).split(",") == [changed[RULES], ENGINE_CONF[RULES]]
        pin_session_conf(spark)  # idempotent: the rule is not added twice
        assert spark.conf.get(RULES).split(",") == [changed[RULES], ENGINE_CONF[RULES]]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_default_heap_fits_the_machine():
    """min(24g, half of physical memory), whole GiB, never below 1g."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _default_heap()
    assert heap.endswith("g")
    gib = int(heap[:-1])
    assert 1 <= gib <= 24
    assert gib == 1 or gib * 1024**3 <= phys / 2
