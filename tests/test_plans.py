"""Physical-plan regression tests: the optimizations the engine relies
on at 100 TB must be visible in the plan, not assumed. Guards against
future refactors silently breaking pushdown / broadcast / map-side
partial aggregation / column pruning (SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    jvm = df.sparkSession._sc._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def n_exchanges(plan: str) -> int:
    # formatted explain lists every node twice (tree + detail section);
    # count the detail headers only
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="module")
def mp_points(spark):
    """Multi-partition points: single-partition input would let AQE
    elide the exchanges these tests count."""
    from opentsdb_rollup_rust_spark.operators.points import derive_points
    from opentsdb_rollup_rust_spark.sources.synth import synth_sequences

    return derive_points(synth_sequences(spark, 2000, partitions=4))


def test_filter_and_projection_pushed_to_scan(spark, lineitem):
    q = (
        lineitem.select("l_returnflag", "l_shipdate")
        .where(F.col("l_shipdate") < F.lit("1998-01-01"))
        .groupBy("l_returnflag")
        .agg(F.count("*"))
    )
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    # scan must read exactly the two referenced columns
    assert "ReadSchema: struct<l_returnflag:string,l_shipdate:timestamp" in p


def test_broadcast_join_chosen_for_small_dim(spark):
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    q = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy(
        "n_name"
    ).agg(F.count("*"))
    p = plan_of(q)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_rollup_has_partial_aggregation(spark, mp_points):
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    p = plan_of(tumbling_rollup(mp_points, "1h"))
    # map-side combine before the exchange — the property that collapses
    # 10^12 input rows to |series x windows| per task pre-shuffle
    assert "partial_sum" in p and "partial_count" in p
    assert n_exchanges(p) == 1  # exactly one shuffle


def test_cascade_adds_single_exchange(spark, mp_points):
    from opentsdb_rollup_rust_spark.operators.rollup import (
        cascade_reagg,
        tumbling_rollup,
    )

    p = plan_of(cascade_reagg(tumbling_rollup(mp_points, "1m"), "1h"))
    # two aggs (1m, 1h) = two shuffles, each preceded by partial agg
    assert n_exchanges(p) == 2
    assert p.count("partial_sum") >= 2


def test_derive_points_prunes_tokens_early(spark, sequences, tmp_path_factory):
    from opentsdb_rollup_rust_spark.operators.points import derive_points
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    # pruning must be asserted against a real parquet scan (the synth
    # fixture has no scan node, hence no ReadSchema to inspect)
    path = str(tmp_path_factory.mktemp("plans") / "seqs.parquet")
    sequences.write.mode("overwrite").parquet(path)
    seqs = spark.read.parquet(path)

    p = plan_of(tumbling_rollup(derive_points(seqs), "1m"))
    # the derive is JVM built-ins only: no Python stage anywhere
    for node in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in p, node
    # n_tok is derivable from the array; the scan must read only the
    # columns the derive needs (doc_id for event time, source for the
    # series id, tokens for the stats)
    import re

    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert read_schemas, p
    for rs in read_schemas:
        cols = {c.split(":")[0] for c in rs.split(",") if c}
        assert "n_tok" not in cols, rs
        assert cols <= {"doc_id", "source", "tokens"}, rs
    # tokens must die in the derive's projection: only the scan and the
    # one Project computing the stats may mention it, so it never
    # crosses a shuffle
    blocks = re.split(r"\n(?=\(\d+\) )", p)
    holders = [b.splitlines()[0] for b in blocks if "tokens#" in b]
    assert len(holders) == 2, holders
    assert "Scan" in holders[0] and "Project" in holders[1], holders
    for block in blocks:
        if block.splitlines()[0].split(" ", 1)[-1].startswith("Exchange"):
            assert "tokens" not in block, block


def test_encode_is_one_sorted_map_in_arrow(spark, mp_points):
    """The Gorilla encode crosses into Python once per Arrow batch
    (MapInArrow over series-sorted rows), not once per group."""
    from opentsdb_rollup_rust_spark.codec.gorilla import encode_chunks
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    rollup = tumbling_rollup(mp_points, "1h").localCheckpoint()
    p = plan_of(encode_chunks(rollup, "1h"))
    assert "MapInArrow" in p, p
    assert "FlatMapGroupsInPandas" not in p, p
    assert n_exchanges(p) == 1, p


def test_semi_and_anti_join_strategies(spark):
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    semi = n.join(c, n.n_nationkey == c.c_nationkey, "left_semi")
    p = plan_of(semi)
    assert "LeftSemi" in p
    # the big side should not be broadcast; the semi side may be
    anti = c.join(n.where(F.col("n_regionkey") == 0), c.c_nationkey == n.n_nationkey, "left_anti")
    assert "LeftAnti" in plan_of(anti)


def test_topk_uses_take_ordered_not_global_window(spark, mp_points):
    from opentsdb_rollup_rust_spark.operators.skew import topk_hot_series

    p = plan_of(topk_hot_series(mp_points, k=5))
    # per-partition top-k + driver merge — NOT a single-partition sort
    assert "TakeOrderedAndProject" in p
    # no Window node anywhere: an un-partitioned window funnels all
    # series counts through one task (round-1 anti-pattern), and a
    # constant partition key gets constant-folded back into that form
    assert "Window" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_fused_rollup_plan_shape(spark, sequences, tmp_path_factory):
    from opentsdb_rollup_rust_spark.operators.rollup import fused_tier_rollup

    path = str(tmp_path_factory.mktemp("plans") / "seqs_fused.parquet")
    sequences.write.mode("overwrite").parquet(path)
    seqs = spark.read.parquet(path)

    p0 = plan_of(fused_tier_rollup(seqs, "1m", salts=0))
    # the wide agg must partial-aggregate all 6 stat buffers map-side
    # and shuffle exactly once; the 6x unpivot happens above the agg
    assert "partial_sum" in p0 and "partial_min" in p0 and "partial_max" in p0
    assert n_exchanges(p0) == 1
    # scan reads only what the arrow stage needs — never n_tok
    import re

    for rs in re.findall(r"ReadSchema: struct<([^>]*)>", p0):
        cols = {c.split(":")[0] for c in rs.split(",") if c}
        assert cols <= {"doc_id", "source", "tokens"}, rs
    # salted variant folds through a second (narrow) exchange
    p8 = plan_of(fused_tier_rollup(seqs, "1m", salts=8))
    assert n_exchanges(p8) == 2
    assert "SortAggregate" not in p8


def test_salted_agg_two_phase_shape(spark, mp_points):
    from opentsdb_rollup_rust_spark.operators.skew import salted_rollup

    p = plan_of(salted_rollup(mp_points, "1h", salts=8))
    # phase 1 groups on (series, salt, window), phase 2 folds salts:
    # two hash-agg pairs, two exchanges, never a sort-based agg
    assert n_exchanges(p) == 2
    assert "SortAggregate" not in p


def test_pack_concat_window_is_bucket_partitioned(spark, tmp_path_factory):
    """K1's prefix-sum window must be partitioned by the range bucket
    — a global (partition-less) window would funnel the whole table
    through one task, the exact round-1 anti-pattern topk fixed."""
    from opentsdb_rollup_rust_spark.pipeline.packing import concat_pack_spans

    path = str(tmp_path_factory.mktemp("plans") / "pack_docs_mp.parquet")
    spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(200)], "doc_id long, n_tok long"
    ).repartition(4).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    p = plan_of(
        concat_pack_spans(
            docs, capacity=64, bucket_expr=F.floor(F.col("doc_id") / F.lit(50))
        )
    )
    assert "windowspecdefinition(_bkt" in p, p
    # bucket bases arrive by broadcast — computed from the r3
    # DISTRIBUTED exclusive prefix (bucket-totals agg + one
    # single-partition window over |buckets| rows), never a driver
    # collect. Plan contract: the row-data window is bucket-partitioned
    # (above), the base side reaches the join as a broadcast, and the
    # plan carries exactly 3 exchanges — row-bucket hash for the cumsum
    # window, bucket-totals agg, and the |buckets|-row single-partition
    # prefix window. Only the first touches row-scale data.
    assert "BroadcastHashJoin" in p
    assert n_exchanges(p) == 3, p
    # the single-partition window exists but consumes the AGGREGATED
    # bucket totals (child of a HashAggregate), not row data
    assert "windowspecdefinition(_bkt" in p


def test_pack_concat_filter_pushed_to_scan(spark, tmp_path_factory):
    from opentsdb_rollup_rust_spark.pipeline.packing import concat_pack_spans

    path = str(tmp_path_factory.mktemp("plans") / "pack_docs.parquet")
    spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(200)], "doc_id long, n_tok long"
    ).write.mode("overwrite").parquet(path)
    p = plan_of(concat_pack_spans(spark.read.parquet(path), capacity=64))
    # the zero-length guard reaches the parquet scan
    assert "PushedFilters: [IsNotNull(n_tok), GreaterThan(n_tok,0)]" in p, p


def test_tok_topk_partial_agg_and_rank_pushdown(spark):
    """T5: (source, token) counts partial-aggregate map-side, and the
    per-source rank prunes to top-k per partition BEFORE the window
    shuffle (WindowGroupLimit) — the agg output, not the scan, bounds
    what crosses the wire."""
    import __spark_entry__ as E

    df = E.queries()["tok_topk"](spark, SF_DIR)
    p = plan_of(df)
    assert "partial_count" in p
    assert "WindowGroupLimit" in p, p
    # the rank window is partitioned (by source), never global
    assert "windowspecdefinition(source" in p, p


def test_engine_session_confs_pinned(spark):
    """The perf-critical session confs are load-bearing (each traces
    to a measured multi-second regression when absent) — pin them so a
    factory refactor can't silently drop one."""
    get = spark.conf.get
    assert get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "4k"
    assert "InferFiltersFromGenerate" in get("spark.sql.optimizer.excludedRules")
    assert get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS"
    # 262144 since the r4 ABAB (BENCH/BASELINE.md "Arrow batch-size
    # A/B"): 256k beat 64k in every adjacent pair; the 32 MB byte cap
    # sizes wide-row batches (Gorilla chunks, media payloads)
    assert get("spark.sql.execution.arrow.maxRecordsPerBatch") == "262144"
    assert get("spark.sql.execution.arrow.maxBytesPerBatch") == str(32 * 1024 * 1024)
    assert get("spark.sql.session.timeZone") == "UTC"


def test_uid_encode_uses_broadcast_joins(spark, mp_points):
    """F9: both the encode and decode joins must be broadcast hash
    joins — the point stream must never shuffle for dictionary
    encoding (the dictionary is |series|-bounded)."""
    from opentsdb_rollup_rust_spark.functions.uid import (
        build_uid_table,
        decode_uids,
        encode_uids,
    )

    uids = build_uid_table(mp_points)
    enc = decode_uids(encode_uids(mp_points, uids), uids)
    plan = plan_of(enc)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_tag_filter_rollup_no_udf_and_partial_agg(spark):
    """P6: the compiled tag predicate is pure codegen (no Python
    eval nodes) and the aggregation keeps its map-side partial
    phase."""
    from opentsdb_rollup_rust_spark.operators.tagquery import (
        TagFilter,
        tag_filter_rollup,
    )

    pts = spark.range(0, 10_000, 1, 4).select(
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.col("id").alias("value"),
        F.create_map(
            F.lit("host"),
            F.concat(F.lit("h"), (F.col("id") % 7).cast("string")),
        ).alias("tags"),
    )
    q = tag_filter_rollup(
        pts, [TagFilter("wildcard", "host", "h*", group_by=True)], 3600
    )
    plan = plan_of(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_" in plan or "HashAggregate" in plan
    # two-phase agg: partial before the exchange, final after
    assert plan.count("HashAggregate") >= 2


def test_tag_read_partition_pruned(spark, tmp_path_factory):
    """P6b: with the hot tagk as a Hive partition dimension, the tag
    query's dc filter must prune directories at planning time —
    PartitionFilters non-empty and the pruned partition's files never
    scanned."""
    base = str(tmp_path_factory.mktemp("tagstore"))
    df = spark.range(0, 1000, 1, 4).select(
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.col("id").alias("value"),
        F.when(F.col("id") % 2 == 0, F.lit("click"))
        .otherwise(F.lit("error"))
        .alias("dc"),
        F.create_map(
            F.lit("host"),
            F.concat(F.lit("web"), (F.col("id") % 3).cast("string")),
        ).alias("tags"),
    )
    df.write.partitionBy("dc").mode("overwrite").parquet(base)
    stored = spark.read.parquet(base)
    q = stored.where(
        (F.col("dc") == "click")
        & F.element_at(F.col("tags"), F.lit("host")).like("web1%")
    ).groupBy("dc").agg(F.sum("value").alias("s"))
    plan = plan_of(q)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "dc" in m[0]
    # directory pruning visible: only one of the two dc partitions read
    assert "PartitionFilters: []" not in plan
    assert q.collect()[0]["s"] > 0


def test_pruned_read_chunk_filter_pushed_to_scan(spark, tmp_path_factory):
    """pruned_read's chunk upper bound is written on the raw
    chunk_start, so it reaches the parquet scan's PushedFilters
    (row-group skipping); and the prune only prunes: the range read
    equals decoding every chunk and keeping the range."""
    from opentsdb_rollup_rust_spark.codec.gorilla import (
        decode_chunks,
        encode_chunks,
        pruned_read,
    )

    from .conftest import assert_df_equal

    def rollup(interval, sec, n):
        return spark.range(0, n, 1, 2).select(
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("series_id"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id") * sec).alias("window_start"),
            F.lit(interval).alias("interval"),
            *(F.col("id").alias(c) for c in ("sum", "count", "min", "max")),
        )

    path = str(tmp_path_factory.mktemp("chunks")) + "/chunks.parquet"
    encode_chunks(rollup("1m", 60, 3000), "1m", chunk_points=64).unionByName(
        encode_chunks(rollup("1h", 3600, 300), "1h", chunk_points=64)
    ).write.parquet(path)
    chunks = spark.read.parquet(path)
    t0, t1 = 1704067200 + 20 * 3600, 1704067200 + 30 * 3600 + 17
    got = pruned_read(chunks, t0, t1, chunk_points=64)
    pushed = [ln for ln in plan_of(got).splitlines() if "PushedFilters" in ln]
    assert pushed and "chunk_start" in pushed[0], pushed
    ws = F.unix_timestamp("window_start")
    want = decode_chunks(chunks).where((ws >= t0) & (ws < t1))
    assert got.count() > 0
    assert_df_equal(got, want)


def test_queries_ordered_oldest_driver_evidence_first(tmp_path):
    """The driver samples the first 50 queries() keys: keys no
    CORRECTNESS_r<N>.json round checked come first, then by the last
    round that checked them, oldest first; declared order breaks ties
    and stands alone when no such file exists."""
    import json
    import os

    import __spark_entry__ as E

    declared = {k: None for k in ("a", "b", "c", "d", "e", "f")}
    assert list(E.order_by_last_check(declared, str(tmp_path))) == list(declared)
    for rnd, keys in ((1, "abcf"), (2, "ab"), (3, "f")):
        with open(tmp_path / f"CORRECTNESS_r0{rnd}.json", "w") as f:
            json.dump({k: {"hash_match": True} for k in keys}, f)
    # d, e never checked; c last in r1; a, b in r2; f in r3
    assert list(E.order_by_last_check(declared, str(tmp_path))) == list("decabf")

    # the repo's own evidence: the sample holds no key the newest round
    # already checked
    root = os.path.dirname(os.path.abspath(E.__file__))
    rounds = sorted(
        f for f in os.listdir(root) if f.startswith("CORRECTNESS_r")
    )
    with open(os.path.join(root, rounds[-1])) as f:
        newest = set(json.load(f))
    assert not set(list(E.queries())[:50]) & newest
