"""Correctness gate, run after the timed window: the stored tiers and
chunks against an independent rollup of the input, and the tagged
tables the /api/query requests read."""

from __future__ import annotations

from functools import reduce
from pathlib import Path

import pandas as pd


AGGS = ("sum", "count", "min", "max")


def _long(df):
    """Rollup rows -> one row per (series, window, aggregate)."""
    from pyspark.sql import functions as F

    return df.select(
        "series_id", "window_start",
        F.stack(F.lit(4), *[x for a in AGGS for x in (F.lit(a), F.col(a))]).alias("agg", "value"),
    )


def _differ(a, b, what: str) -> str | None:
    """Multiset difference in both directions, None when ``a`` and ``b``
    hold the same rows the same number of times. This is the test
    ``a.exceptAll(b)`` and ``b.exceptAll(a)`` both empty makes, done as
    one signed count per distinct row: one shuffle instead of four,
    which measured 5.6 s against 8-12 s for the gate at 40k sequences."""
    from pyspark.sql import functions as F

    signed = a.withColumn("_n", F.lit(1)).unionByName(b.withColumn("_n", F.lit(-1)))
    rows = (signed.groupBy(*a.columns).agg(F.sum("_n").alias("_n"))
            .where(F.col("_n") != 0).limit(3).collect())
    return f"{what}: e.g. {[r.asDict() for r in rows]}" if rows else None


def check_store(store, cutoffs: dict[str, int | None]) -> str | None:
    """Each ``rollup_<tier>`` must equal
    tumbling_rollup(derive_points(sequences, impl="sql"), tier), and each
    decoded ``chunks_<tier>`` must equal the stored tier (rows x 4
    aggregates); windows before a tier's retention cutoff are left out
    of both. Returns None when everything matches, else what differs
    (``_n`` > 0: rows only the store has; < 0: rows it lacks)."""
    from opentsdb_rollup_rust_spark.codec.gorilla import decode_chunks, pruned_read
    from opentsdb_rollup_rust_spark.operators.points import derive_points
    from opentsdb_rollup_rust_spark.operators.rollup import ROLLUP_COLS, tumbling_rollup
    from pyspark.sql import functions as F

    ref_pts = derive_points(store.read("sequences"), impl="sql")
    stored, ref, decoded, stacked = [], [], [], []
    for tier, cutoff in cutoffs.items():
        def kept(df, cutoff=cutoff):
            return df if cutoff is None else df.where(F.unix_timestamp("window_start") >= cutoff)

        tier_df = kept(store.read(f"rollup_{tier}").select(*ROLLUP_COLS))
        stored.append(tier_df)
        ref.append(kept(tumbling_rollup(ref_pts, tier)))
        stacked.append(_long(tier_df))
        chunks = store.read(f"chunks_{tier}")
        # a cutoff tier decodes only the chunks that reach past the cutoff
        dec = decode_chunks(chunks) if cutoff is None else pruned_read(chunks, cutoff, 2**40)
        decoded.append(dec.select("series_id", "window_start", "agg", "value"))

    def union(dfs):
        return reduce(lambda a, b: a.unionByName(b), dfs)

    return (_differ(union(stored), union(ref), "stored tier != reference rollup")
            or _differ(union(decoded), union(stacked), "decoded chunks != stored tier"))


def tagged_tables(spark, store, work: Path) -> tuple[str, str]:
    """The /api/query inputs, written from the stored sequences: the
    tagged point table (metric = token stat; tags = source and a
    16-value doc-hash shard, plus the engine's stored series-identity
    columns) and its 1h build_tagged_tier tier."""
    from opentsdb_rollup_rust_spark.operators.points import derive_points
    from opentsdb_rollup_rust_spark.operators.tagquery import TAG_COL_PREFIX
    from opentsdb_rollup_rust_spark.plans.api_query import STORED_SERIES_COL, build_tagged_tier
    from pyspark.sql import functions as F

    pts = derive_points(store.read("sequences"), keep_doc_id=True, impl="sql")
    parts = F.split("series_id", ":")
    source = parts.getItem(0)
    shard = F.lpad(F.pmod(F.xxhash64("doc_id", F.lit("shard")), F.lit(16)).cast("string"), 2, "0")
    points_path, tier_path = str(work / "tagged_points"), str(work / "tagged_1h")
    pts.select(
        parts.getItem(1).alias("metric"), "ts", "value",
        F.create_map(F.lit("shard"), shard, F.lit("source"), source).alias("tags"),
        F.concat(F.lit("shard="), shard, F.lit(",source="), source).alias(STORED_SERIES_COL),
        shard.alias(TAG_COL_PREFIX + "shard"), source.alias(TAG_COL_PREFIX + "source"),
    ).write.parquet(points_path)
    build_tagged_tier(spark.read.parquet(points_path), "1h", metric_col="metric").write.parquet(tier_path)
    return points_path, tier_path


def raw_points(spark, points_path: str, store) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The tagged points as pandas (the recompute's input) and the
    chunk tables' metadata (which chunks a range read must decode)."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(points_path).select(
        F.concat(F.col("tags")["source"], F.lit(":"), "metric").alias("series_id"),
        "metric", F.col("tags")["source"].alias("source"),
        F.col("tags")["shard"].alias("shard"),
        F.unix_timestamp("ts").alias("ts"), "value",
    ).toPandas()
    meta = reduce(lambda a, b: a.unionByName(b), [
        store.read(t).select(F.lit(t).alias("table"),
                             F.unix_timestamp("chunk_start").alias("chunk_start"), "n")
        for t in ("chunks_1m", "chunks_1h")]).toPandas()
    return raw, meta


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if not (a == b).all():
            i = int((a != b).argmax())
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None
