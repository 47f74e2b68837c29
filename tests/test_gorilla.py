"""C1/C2 — Gorilla codec: hypothesis roundtrip, pure-python mirror
encoder (byte-identical), Spark encode/decode integration."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from opentsdb_rollup_rust_spark.codec.gorilla import (
    decode_chunk_arrays,
    decode_chunk_lanes,
    decode_chunks,
    encode_chunk_arrays,
    encode_chunks,
    encode_sorted_batches,
)
from opentsdb_rollup_rust_spark.config import INTERVAL_SECONDS


# ----------------------------------------------------------- mirror encoder

def _mirror_encode(ts_units, words):
    """Bit-string reference encoder (slow, obvious) — the test oracle
    for the vectorized bit-packer."""

    def emit(bits, code, n):
        bits.append(format(code, f"0{n}b") if n else "")

    tb, vb = [], []
    emit(tb, int(ts_units[0]), 14)
    prev_delta = int(ts_units[0])
    for i in range(1, len(ts_units)):
        delta = int(ts_units[i]) - int(ts_units[i - 1])
        dod = delta - prev_delta
        prev_delta = delta
        if dod == 0:
            emit(tb, 0, 1)
        elif -63 <= dod <= 64:
            emit(tb, 0b10, 2), emit(tb, dod + 63, 7)
        elif -255 <= dod <= 256:
            emit(tb, 0b110, 3), emit(tb, dod + 255, 9)
        elif -2047 <= dod <= 2048:
            emit(tb, 0b1110, 4), emit(tb, dod + 2047, 12)
        else:
            emit(tb, 0b1111, 4), emit(tb, dod & 0xFFFFFFFF, 32)

    emit(vb, int(words[0]), 64)
    wlead = wtrail = None
    for i in range(1, len(words)):
        xor = int(words[i]) ^ int(words[i - 1])
        if xor == 0:
            emit(vb, 0, 1)
            continue
        lead = min(64 - xor.bit_length(), 31)
        trail = (xor & -xor).bit_length() - 1
        emit(vb, 1, 1)
        if wlead is not None and lead >= wlead and trail >= wtrail:
            mlen = 64 - wlead - wtrail
            emit(vb, 0, 1), emit(vb, xor >> wtrail, mlen)
        else:
            mlen = 64 - lead - trail
            emit(vb, 1, 1), emit(vb, lead, 5), emit(vb, mlen - 1, 6)
            emit(vb, xor >> trail, mlen)
        wlead, wtrail = lead, trail

    def to_bytes(parts):
        s = "".join(parts)
        s += "0" * (-len(s) % 8)
        return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))

    return to_bytes(tb), to_bytes(vb)


# ------------------------------------------------------------- strategies

@st.composite
def chunks(draw):
    n = draw(st.integers(1, 300))
    first = draw(st.integers(0, 2**14 - 1))
    gaps = draw(
        st.lists(st.integers(1, 3000), min_size=n - 1, max_size=n - 1)
    )
    ts = np.cumsum([first] + gaps).astype(np.int64)
    kind = draw(st.sampled_from(["int", "float", "const", "walk"]))
    if kind == "int":
        vals = np.array(
            draw(
                st.lists(
                    st.integers(-(2**62), 2**62), min_size=n, max_size=n
                )
            ),
            dtype=np.int64,
        ).view(np.uint64)
    elif kind == "float":
        vals = np.array(
            draw(
                st.lists(
                    st.floats(allow_nan=False, allow_infinity=False),
                    min_size=n,
                    max_size=n,
                )
            ),
            dtype=np.float64,
        ).view(np.uint64)
    elif kind == "const":
        vals = np.full(n, draw(st.integers(0, 2**63)), dtype=np.uint64)
    else:
        steps = draw(st.lists(st.integers(-5, 5), min_size=n, max_size=n))
        vals = np.cumsum(steps).astype(np.int64).view(np.uint64)
    return ts, vals


@settings(max_examples=150, deadline=None)
@given(chunks())
def test_roundtrip_property(chunk):
    ts, vals = chunk
    tb, vb = encode_chunk_arrays(ts, vals)
    ts2, vals2 = decode_chunk_arrays(tb, vb, len(ts))
    assert np.array_equal(ts, ts2)
    assert np.array_equal(vals, vals2)


@settings(max_examples=60, deadline=None)
@given(chunks())
def test_vectorized_matches_mirror(chunk):
    ts, vals = chunk
    got = encode_chunk_arrays(ts, vals)
    want = _mirror_encode(ts, vals)
    assert got == want


def test_first_delta_overflow_raises():
    with pytest.raises(ValueError):
        encode_chunk_arrays(
            np.array([1 << 14], dtype=np.int64), np.array([0], dtype=np.uint64)
        )


def test_regular_series_one_bit_per_ts():
    """[GORILLA §4.1.1]: steady intervals -> dod=0 -> 1 bit/timestamp."""
    n = 4096
    ts = np.arange(n, dtype=np.int64)
    tb, _ = encode_chunk_arrays(ts, np.zeros(n, dtype=np.uint64))
    assert len(tb) <= (14 + (n - 1) * 1 + 7) // 8 + 1


def test_decode_throughput_floor():
    """The decode path sits on the chunk-table read path; pin the
    single-fetch-per-field reader's throughput so a regression back
    toward the per-bit loop (round 1: ~0.07 Mpts/s) fails loudly.
    Floor is ~3x under the measured 0.85 Mpts/s to stay unflaky."""
    import time

    rng = np.random.RandomState(7)
    n = 4096
    ts = np.arange(n, dtype=np.int64)
    words = rng.randint(0, 1_000_000, n).astype(np.int64).view(np.uint64)
    tb, vb = encode_chunk_arrays(ts, words)
    decode_chunk_arrays(tb, vb, n)  # warm
    best = 0.0
    for _ in range(3):  # best-of-batches: host noise bursts hit medians
        t0 = time.monotonic()
        reps = 5
        for _ in range(reps):
            decode_chunk_arrays(tb, vb, n)
        best = max(best, n * reps / (time.monotonic() - t0) / 1e6)
    assert best >= 0.25, f"decode throughput regressed: {best:.3f} Mpts/s"


# ------------------------------------------------------- lane-parallel decode

@settings(max_examples=40, deadline=None)
@given(st.lists(chunks(), min_size=1, max_size=8))
def test_lane_matches_scalar_property(batch):
    """The lane-parallel batch reader is bit-for-bit the scalar reader
    run chunk-by-chunk — on any mix of chunk shapes and sizes."""
    encs = [encode_chunk_arrays(ts, vals) for ts, vals in batch]
    ns = np.array([len(ts) for ts, _ in batch])
    got_ts, got_w = decode_chunk_lanes(
        [e[0] for e in encs], [e[1] for e in encs], ns
    )
    off = 0
    for (ts, vals), n in zip(batch, ns):
        assert np.array_equal(got_ts[off : off + n], ts)
        assert np.array_equal(got_w[off : off + n], vals)
        off += n


def test_lane_hetero_handoff():
    """One max-size chunk among many tiny ones drains the lane pool
    below _MIN_LANES: the survivor must hand off to the scalar resume
    path and still decode exactly (incl. carried-window state)."""
    rng = np.random.RandomState(11)
    batch = []
    for j in range(40):
        n = 3000 if j == 17 else rng.randint(1, 9)
        ts = np.cumsum(
            np.concatenate([[j % (1 << 14)], rng.randint(1, 999, n - 1)])
        ).astype(np.int64)
        # mixed values: runs of repeats (window carry) + jumps (fresh)
        vals = np.where(
            np.arange(n) % 3 == 0,
            rng.randint(0, 2**62, n).astype(np.uint64),
            np.uint64(7),
        ).astype(np.uint64)
        batch.append((ts, vals))
    encs = [encode_chunk_arrays(ts, vals) for ts, vals in batch]
    ns = np.array([len(ts) for ts, _ in batch])
    got_ts, got_w = decode_chunk_lanes(
        [e[0] for e in encs], [e[1] for e in encs], ns
    )
    off = 0
    for ts, vals in batch:
        n = len(ts)
        assert np.array_equal(got_ts[off : off + n], ts)
        assert np.array_equal(got_w[off : off + n], vals)
        off += n


def test_lane_throughput_floor():
    """Pin the lane reader's advantage on the worst case for the
    scalar loop (every point takes the value slow path): at 256 lanes
    it measures ~2-3 Mpts/s vs the scalar ~0.7 (6x at full Arrow-batch
    width); floor well under the measurement to stay unflaky."""
    import time

    rng = np.random.RandomState(7)
    n, L = 2048, 256
    ts = np.arange(n, dtype=np.int64)
    tbs, vbs = [], []
    for _ in range(L):
        words = rng.randint(0, 1_000_000, n).astype(np.int64).view(np.uint64)
        tb, vb = encode_chunk_arrays(ts, words)
        tbs.append(tb)
        vbs.append(vb)
    ns = np.full(L, n)
    decode_chunk_lanes(tbs, vbs, ns)  # warm
    best = 0.0
    for _ in range(3):
        t0 = time.monotonic()
        decode_chunk_lanes(tbs, vbs, ns)
        best = max(best, n * L / (time.monotonic() - t0) / 1e6)
    assert best >= 0.6, f"lane decode regressed: {best:.3f} Mpts/s"


def test_decode_batch_bounds_each_lane_matrix(monkeypatch):
    """One batch of many tiny chunks plus one full chunk: every lane
    decode keeps both sum(n) and lanes x max(n) within
    DECODE_FLUSH_POINTS (cutting on sum(n) alone would put all 1,501
    chunks in one 1,501 x 4,096 lane matrix), and the decoded points
    equal the scalar reference."""
    import pandas as pd

    from opentsdb_rollup_rust_spark.codec import gorilla

    rng = np.random.RandomState(5)
    ns = rng.randint(1, 4, 1501)
    ns[700] = 4096
    rows = []
    for j, n in enumerate(ns):
        ts = np.cumsum(rng.randint(1, 3, n)).astype(np.int64)
        words = rng.randint(0, 2**40, n).astype(np.uint64)
        tb, vb = encode_chunk_arrays(ts, words)
        rows.append((f"s{j}", "1m", 60 * 4096 * j, "sum", n, tb, vb))
    pdf = pd.DataFrame(rows, columns=["series_id", "interval", "chunk_start",
                                      "agg", "n", "ts_bits", "val_bits"])
    pdf["chunk_start"] = pd.to_datetime(pdf["chunk_start"], unit="s")

    calls = []

    def lanes(ts_blobs, val_blobs, nsub):
        calls.append((len(nsub), int(nsub.sum()), int(nsub.max())))
        return decode_chunk_lanes(ts_blobs, val_blobs, nsub)

    monkeypatch.setattr(gorilla, "decode_chunk_lanes", lanes)
    out = pd.concat(gorilla.decode_batches([pdf]), ignore_index=True)

    bound = gorilla.DECODE_FLUSH_POINTS
    assert len(calls) > 1
    for n_lanes, total, widest in calls:
        assert total <= bound and n_lanes * widest <= bound, calls
    want_ts, want_v = [], []
    for _, r in pdf.iterrows():
        ts, words = decode_chunk_arrays(r["ts_bits"], r["val_bits"], r["n"])
        want_ts.append(r["chunk_start"].value // 10**9 + 60 * ts)
        want_v.append(words.view(np.int64))
    got_ts = out["window_start"].to_numpy().astype("datetime64[s]").astype(np.int64)
    assert np.array_equal(got_ts, np.concatenate(want_ts))
    assert np.array_equal(out["value"].to_numpy(), np.concatenate(want_v))
    assert list(out["series_id"]) == list(np.repeat(pdf["series_id"], ns))


@pytest.mark.parametrize("udf", ["mapInArrow", "mapInPandas"])
def test_wide_rows_cut_by_the_session_byte_cap(spark, udf):
    """Under the session defaults, 16 KB rows reach Python in batches
    of <= 32 MB of payload (2,047 rows): the byte cap, not the 262,144-row record
    cap, sizes wide-row batches such as Gorilla chunks."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import functions as F

    def arrow_sizes(it):
        import pyarrow.compute as pc

        for b in it:
            blob_bytes = pc.sum(pc.binary_length(b.column("blob"))).as_py()
            yield pa.RecordBatch.from_pylist(
                [{"rows": b.num_rows, "nbytes": blob_bytes}])

    def pandas_sizes(it):
        for p in it:
            yield pd.DataFrame({"rows": [len(p)],
                                "nbytes": [int(p["blob"].map(len).sum())]})

    wide = spark.range(0, 5000, 1, 1).select(
        "id", F.expr("cast(repeat('x', 16384) as binary)").alias("blob"))
    fn = arrow_sizes if udf == "mapInArrow" else pandas_sizes
    got = getattr(wide, udf)(fn, "rows long, nbytes long").collect()
    assert sum(r.rows for r in got) == 5000
    assert all(r.nbytes <= 32 * 1024 * 1024 for r in got), got
    assert 2000 <= max(r.rows for r in got) <= 2048, got


# --------------------------------------------------------- Spark integration

def test_spark_encode_decode_roundtrip(spark, points):
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    r1h = tumbling_rollup(points, "1h")
    chunks_df = encode_chunks(r1h, "1h").cache()
    assert chunks_df.where("enc_bytes <= 0").count() == 0
    decoded = decode_chunks(chunks_df)

    from pyspark.sql import functions as F

    back = (
        decoded.groupBy("series_id", "window_start")
        .pivot("agg", ["sum", "count", "min", "max"])
        .agg(F.first("value"))
        .withColumn("interval", F.lit("1h"))
        .select("series_id", "window_start", "interval", "sum", "count", "min", "max")
    )
    assert back.exceptAll(r1h).count() == 0
    assert r1h.exceptAll(back).count() == 0


def test_compression_beats_raw(spark, points):
    from opentsdb_rollup_rust_spark.codec.gorilla import compression_stats
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    r1m = tumbling_rollup(points, "1m")
    stats = compression_stats(encode_chunks(r1m, "1m")).collect()
    assert all(row.ratio > 1.0 for row in stats)


# ------------------------------------------- encode: batch-split boundaries

@st.composite
def sorted_groups(draw):
    """Key-sorted long rows of random (series, agg, chunk_start) groups,
    cut into random Arrow batches."""
    import pyarrow as pa

    keys = sorted(
        draw(
            st.sets(
                st.tuples(
                    st.sampled_from(["a", "b", "s10", "s2"]),
                    st.sampled_from(["count", "max", "min", "sum"]),
                    st.integers(0, 3).map(lambda c: c * 60 * 64),
                ),
                min_size=1,
                max_size=10,
            )
        )
    )
    cols = {k: [] for k in ("series_id", "agg", "chunk_start", "epoch", "value")}
    for sid, agg, cs in keys:
        offs = sorted(draw(st.sets(st.integers(0, 63), min_size=1, max_size=20)))
        for o in offs:
            cols["series_id"].append(sid)
            cols["agg"].append(agg)
            cols["chunk_start"].append(cs)
            cols["epoch"].append(cs + 60 * o)
            cols["value"].append(draw(st.integers(-(2**40), 2**40)))
    tbl = pa.table(
        {k: pa.array(v, pa.string() if k in ("series_id", "agg") else pa.int64())
         for k, v in cols.items()}
    )
    n = tbl.num_rows
    cuts = sorted(draw(st.sets(st.integers(1, max(n - 1, 1)), max_size=8)))
    edges = [0] + [c for c in cuts if c < n] + [n]
    return tbl, [tbl.slice(a, b - a).to_batches()[0] for a, b in zip(edges, edges[1:])
                 if b > a]


@settings(max_examples=80, deadline=None)
@given(sorted_groups())
def test_encode_batches_ignore_batch_boundaries(case):
    """Any split of the sorted stream into batches yields exactly one
    chunk per group, byte-equal to encoding each group on its own."""
    import pyarrow as pa

    tbl, batches = case
    out = pa.Table.from_batches(list(encode_sorted_batches(iter(batches), "1m")))
    got = sorted(zip(*(out.column(c).to_pylist() for c in (
        "series_id", "agg", "n", "ts_bits", "val_bits", "enc_bytes"))))
    d = tbl.to_pydict()
    want = []
    rows = list(zip(d["series_id"], d["agg"], d["chunk_start"], d["epoch"], d["value"]))
    for key in sorted({r[:3] for r in rows}):
        g = [r for r in rows if r[:3] == key]
        tb, vb = encode_chunk_arrays(
            np.array([(r[3] - key[2]) // 60 for r in g]),
            np.array([r[4] for r in g], dtype=np.int64).view(np.uint64),
        )
        want.append((key[0], key[1], len(g), tb, vb, len(tb) + len(vb)))
    assert got == sorted(want)


def _local_encode(rollup, interval, chunk_points=4096):
    """Local reference for encode_chunks: pandas groupby(series_id,
    agg, chunk_start) + encode_chunk_arrays over the collected tier."""
    import pandas as pd
    from pyspark.sql import functions as F

    sec = INTERVAL_SECONDS[interval]
    span = sec * chunk_points
    pdf = rollup.select(
        "series_id", F.unix_timestamp("window_start").alias("epoch"),
        "sum", "count", "min", "max",
    ).toPandas()
    long = pd.concat(
        pd.DataFrame({"series_id": pdf["series_id"], "epoch": pdf["epoch"],
                      "agg": agg, "value": pdf[agg].astype(np.int64)})
        for agg in ("sum", "count", "min", "max")
    )
    long["chunk_start"] = long["epoch"] // span * span
    out = set()
    for (sid, agg, cs), g in long.groupby(["series_id", "agg", "chunk_start"]):
        g = g.sort_values("epoch")
        tb, vb = encode_chunk_arrays(
            (g["epoch"].to_numpy() - cs) // sec,
            g["value"].to_numpy().view(np.uint64),
        )
        n = len(g)
        out.add((sid, interval, int(cs), agg, n, tb, vb, 16 * n, len(tb) + len(vb)))
    return out


@pytest.mark.parametrize("batch_rows", [None, 7])
@pytest.mark.parametrize("tier", ["1m", "1h"])
def test_spark_encode_matches_local_groupby(spark, points, tier, batch_rows):
    """Differential test: Spark encode_chunks equals the local pandas
    grouped encode byte for byte. batch_rows=7 (set after the frame is
    built, before the action) makes most groups straddle Arrow
    batches."""
    from pyspark.sql import functions as F

    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    rollup = tumbling_rollup(points, tier)
    enc = encode_chunks(rollup, tier).select(
        "series_id", "interval", F.unix_timestamp("chunk_start").alias("cs"),
        "agg", "n", "ts_bits", "val_bits", "raw_bytes", "enc_bytes",
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        rows = enc.collect()
    finally:
        spark.conf.set(key, prior)
    got = [
        (r.series_id, r.interval, r.cs, r.agg, r.n, bytes(r.ts_bits),
         bytes(r.val_bits), r.raw_bytes, r.enc_bytes)
        for r in rows
    ]
    assert len(got) == len(set(got))
    assert set(got) == _local_encode(rollup, tier)
