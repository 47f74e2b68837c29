"""A5/W3 — hot-key skew handling (BASELINE.json:6,14).

The 70% 'web' source makes ~70% of all points share a handful of
series_ids. AQE splits skewed *join* partitions but NOT skewed groupBy
partitions (SURVEY.md §4) — so the skew-safe aggregation is manual:

  phase 1: groupBy (series_id, salt, window)  — spreads the hot key
           over S reducers; salt = pmod(xxhash64(ts), S) is
           deterministic (no rand(), resume-safe).
  phase 2: groupBy (series_id, window)        — folds salts back.

Correct because SUM/COUNT/MIN/MAX are decomposable; golden test:
salted == unsalted exactly.

At 10^12 scale phase 1's partial aggregation already collapses
per-task data, so the extra shuffle is narrow (|series x salt x
windows| rows) and salting every series uniformly is near-free.
topk_hot_series, the skew detector, is a query in its own right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import INTERVAL_SECONDS
from ..functions.timeutil import time_bucket
from .rollup import reaggregate, stored_aggs


def salted_rollup(points: DataFrame, interval: str, salts: int = 16) -> DataFrame:
    """A5: two-phase skew-safe tumbling rollup; result == tumbling_rollup."""
    sec = INTERVAL_SECONDS[interval]
    phase1 = (
        points.withColumn("salt", F.pmod(F.xxhash64("ts"), F.lit(salts)))
        .groupBy("series_id", "salt", time_bucket("ts", sec).alias("window_start"))
        .agg(*stored_aggs())
    )
    return reaggregate(phase1, "window_start", interval)


def topk_hot_series(points: DataFrame, k: int = 10) -> DataFrame:
    """W3: top-k series by point count — the skew detector. Ties break
    on series_id for determinism.

    orderBy().limit(k) compiles to TakeOrderedAndProject (per-partition
    top-k + driver merge of k rows per partition) — never the global
    un-partitioned window round 1 flagged, which funnels ALL series
    counts through one task. Rank over the k survivors is derived as
    1 + |strictly better rows| via a broadcast self-join of the k-row
    result (no Window node at all — a constant partition key does not
    survive constant folding, so any window here would regress to the
    single-partition WindowExec)."""
    counts = points.groupBy("series_id").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("series_id")).limit(k)
    better = top.select(
        F.col("cnt").alias("b_cnt"), F.col("series_id").alias("b_sid")
    )
    beats = (F.col("b_cnt") > F.col("cnt")) | (
        (F.col("b_cnt") == F.col("cnt")) & (F.col("b_sid") < F.col("series_id"))
    )
    return (
        top.join(F.broadcast(better), beats, "left")
        .groupBy("series_id", "cnt")
        .agg((F.count("b_sid") + 1).cast("int").alias("rank"))
        .select("series_id", "cnt", "rank")
    )
