"""S2 generator: determinism, schema, FIXTURES.md §1 rules."""

import pytest
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.sources.synth import synth_sequences, MAX_LEN, VOCAB


def test_schema(sequences):
    assert [(f.name, f.dataType.simpleString()) for f in sequences.schema.fields] == [
        ("doc_id", "string"),
        ("tokens", "array<int>"),
        ("n_tok", "int"),
        ("source", "string"),
    ]


def test_deterministic_across_partitionings(spark, sequences):
    again = synth_sequences(spark, 1_000, partitions=7)
    assert again.exceptAll(sequences).count() == 0
    assert sequences.exceptAll(again).count() == 0


def test_value_ranges(sequences):
    row = sequences.agg(
        F.min("n_tok").alias("lo"),
        F.max("n_tok").alias("hi"),
        F.min(F.array_min("tokens")).alias("tlo"),
        F.max(F.array_max("tokens")).alias("thi"),
    ).first()
    assert 1 <= row.lo and row.hi <= MAX_LEN
    assert 0 <= row.tlo and row.thi < VOCAB


def test_n_tok_consistent(sequences):
    assert sequences.where(F.size("tokens") != F.col("n_tok")).count() == 0


def test_source_skew(sequences):
    frac = sequences.where(F.col("source") == "web").count() / sequences.count()
    assert 0.6 < frac < 0.8  # the deliberate hot key


def test_derive_matches_python_reference(sequences):
    """Golden: derive_wide and derive_points equal plain-Python per-row
    stats over the collected tokens — a reference that shares no code
    with the derive's Spark expressions."""
    from opentsdb_rollup_rust_spark.config import SERIES_SEP, TOKEN_STATS
    from opentsdb_rollup_rust_spark.operators.points import (
        derive_points,
        derive_wide,
    )

    want = {}
    for r in sequences.select("doc_id", "source", "tokens").collect():
        t = r.tokens
        stats = (len(t), sum(t), min(t), max(t), t[0], t[-1])
        want[r.doc_id] = (r.source, dict(zip(TOKEN_STATS, stats)))

    wide = derive_wide(sequences, keep_doc_id=True).collect()
    assert len(wide) == len(want)
    ts_of = {}
    for r in wide:
        source, stats = want[r.doc_id]
        assert (r.source, {s: r[s] for s in TOKEN_STATS}) == (source, stats)
        ts_of[r.doc_id] = r.ts_sec

    points = derive_points(sequences, keep_doc_id=True).select(
        "doc_id", "series_id", F.unix_timestamp("ts").alias("ts_sec"), "value"
    )
    got = sorted(tuple(r) for r in points.collect())
    expect = sorted(
        (doc, f"{source}{SERIES_SEP}{stat}", ts_of[doc], v)
        for doc, (source, stats) in want.items()
        for stat, v in stats.items()
    )
    assert got == expect


def test_derive_points_rejects_unknown_impl(sequences):
    from opentsdb_rollup_rust_spark.operators.points import derive_points

    with pytest.raises(ValueError, match="only 'sql'"):
        derive_points(sequences, impl="arrow")
