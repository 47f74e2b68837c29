"""C1/C2/C3 — delta-of-delta timestamp + Gorilla XOR value compression.

Format (public definitions: Pelkonen et al., "Gorilla: A Fast,
Scalable, In-Memory Time Series Database", VLDB 2015, §4.1; mandated
by BASELINE.json:6).

Timestamps (§4.1.1), in *interval units* relative to the chunk start
(rollup windows are interval-aligned, so regular series give
delta-of-delta == 0 -> 1 bit/point):

  point 0 : 14-bit raw delta (ts0 - chunk_start), unit = interval
  point i : dod = delta_i - delta_{i-1} bucket-coded
            '0'                      dod == 0
            '10'   + 7 bits          dod in [-63, 64]      (stored dod+63)
            '110'  + 9 bits          dod in [-255, 256]    (stored dod+255)
            '1110' + 12 bits         dod in [-2047, 2048]  (stored dod+2047)
            '1111' + 32 bits         otherwise (dod mod 2^32, signed)

Values (§4.1.2), on the raw 64-bit word (int64 bit pattern here;
float64 views work identically):

  point 0 : raw 64 bits
  point i : xor = w_i ^ w_{i-1}
            '0'                      xor == 0
            '1' then control bit:
              '0' + meaningful bits   reuse previous window
              '1' + 5b leading-zeros (capped 31) + 6b (len-1) + bits

Window-reuse rule (a from-scratch design choice that keeps the ENCODER
fully vectorizable — the sequential part of classic Gorilla encoders is
the sticky window state): the reuse window after point i is defined as
(clz_capped(xor_i), ctz(xor_i)) of point i's own xor, carried forward
over xor==0 points. The decoder reconstructs each xor exactly, so it
can recompute the identical window — no extra state bits. Point i
reuses iff its own lead/trail are >= the carried window of i-1.

Everything below is numpy array code over whole chunks (<= 4096
points): no per-row Python in the encode path (BASELINE.json:15). The
bit-packer builds a bit array with the concat-arange trick and
np.packbits. Decode comes in two equivalent readers: a scalar
per-point loop with O(1) field reads over precomputed 64-bit sliding
windows (decode_chunk_arrays — the reference), and the LANE-PARALLEL
batch reader used on the Spark read path (decode_chunk_lanes — one
numpy lane per chunk, every loop iteration advances all active chunks
by one point; 5-8x the scalar reader at Arrow-batch widths). Both
finish a chunk vectorized as soon as its remaining stream is all zero
codes (regular timestamps / repeated values).

Spark surface: encode_chunks crosses into Python once per Arrow batch,
not once per chunk. The long rows are repartitioned by series and
sorted by (series_id, agg, chunk_start, epoch), so every chunk is a
contiguous run of rows; one mapInArrow pass (encode_sorted_batches)
splits each batch at key changes and encodes each run. A run cut by a
batch boundary is carried into the next batch, so at most one
unfinished chunk (<= chunk_points rows) is held at a time. Decode is
mapInPandas over whole-chunk rows (decode_chunks), each batch cut into
runs of chunks whose lane matrix and output both fit
DECODE_FLUSH_POINTS. Batch sizes come from the session's record and
byte caps (session.ENGINE_CONF); no codec operator sets a conf.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import INTERVAL_SECONDS, STORED_AGGS

U64 = np.uint64
_ONE = U64(1)


# ------------------------------------------------------------------ bit math

def _bit_length(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (0 -> 0)."""
    x = x.astype(U64, copy=True)
    out = np.zeros(x.shape, dtype=np.int64)
    for k in (32, 16, 8, 4, 2, 1):
        big = x >= (_ONE << U64(k))
        out[big] += k
        x[big] >>= U64(k)
    out[x > 0] += 1
    return out


def _clz64(x: np.ndarray) -> np.ndarray:
    return 64 - _bit_length(x)


def _ctz64(x: np.ndarray) -> np.ndarray:
    lsb = x & (~x + _ONE)  # two's complement isolate lowest set bit
    out = _bit_length(lsb) - 1
    out[x == 0] = 64
    return out


def _pack_bits(codes: np.ndarray, lens: np.ndarray) -> bytes:
    """MSB-first concatenation of (code, len) fields -> bytes.

    Fully vectorized: total-bits index arrays via the concat-arange
    trick, then np.packbits.
    """
    keep = lens > 0
    codes, lens = codes[keep].astype(U64), lens[keep].astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return b""
    cs = np.cumsum(lens)
    # position within each field: 0..len-1
    within = np.arange(total, dtype=np.int64) - np.repeat(cs - lens, lens)
    bitpos = (np.repeat(lens, lens) - 1 - within).astype(U64)  # MSB first
    bits = ((np.repeat(codes, lens) >> bitpos) & _ONE).astype(np.uint8)
    return np.packbits(bits).tobytes()


def _sliding_windows(buf: bytes) -> tuple[list[int], int]:
    """Decode-side index over packed bytes: a 64-bit MSB-first window
    at every byte offset (built with 8 vectorized shifts over the whole
    buffer, then materialized as a Python int list for ~5x cheaper
    scalar access than numpy element reads), plus the position of the
    LAST set bit. The window list makes any <=56-bit field at bit
    position p a single fetch:

        (w8[p >> 3] >> (64 - (p & 7) - nbits)) & ((1 << nbits) - 1)

    and ``last_one`` lets the decode loops detect that every remaining
    field is the 1-bit zero code (regular timestamps / repeated
    values) and finish the chunk with vectorized arithmetic."""
    n = len(buf)
    b = np.frombuffer(buf + b"\x00" * 8, dtype=np.uint8)
    w = np.zeros(n + 1, dtype=np.uint64)
    for k in range(8):
        w = (w << np.uint64(8)) | b[k : k + n + 1].astype(np.uint64)
    last = -1
    if n:
        nz = np.flatnonzero(np.unpackbits(b[:n]))
        if len(nz):
            last = int(nz[-1])
    return w.tolist(), last


# ------------------------------------------------------------- chunk encode

def encode_chunk_arrays(
    ts_units: np.ndarray, words: np.ndarray
) -> tuple[bytes, bytes]:
    """Encode one chunk. ``ts_units`` int64 (interval units from chunk
    start, strictly increasing, ts_units[0] < 2^14), ``words`` uint64
    bit patterns. Returns (ts_bits, val_bits)."""
    n = len(ts_units)
    assert n > 0
    ts_units = ts_units.astype(np.int64)
    words = words.astype(U64)

    # ---- timestamps: one (code, len) field per point
    t_codes = np.zeros(n, dtype=U64)
    t_lens = np.zeros(n, dtype=np.int64)
    if ts_units[0] >= (1 << 14) or ts_units[0] < 0:
        raise ValueError("first delta does not fit in 14 bits")
    t_codes[0], t_lens[0] = U64(ts_units[0]), 14
    if n > 1:
        deltas = np.diff(ts_units)
        # dod[i] = delta_i - delta_{i-1}, with delta_0 = ts0 - chunk_start
        d_prev = np.concatenate([[ts_units[0]], deltas[:-1]])
        dod = deltas - d_prev
        cls0 = dod == 0
        cls1 = (~cls0) & (dod >= -63) & (dod <= 64)
        cls2 = (~cls0) & (~cls1) & (dod >= -255) & (dod <= 256)
        cls3 = (~cls0) & (~cls1) & (~cls2) & (dod >= -2047) & (dod <= 2048)
        cls4 = ~(cls0 | cls1 | cls2 | cls3)
        code = np.zeros(n - 1, dtype=U64)
        ln = np.ones(n - 1, dtype=np.int64)
        code[cls1] = (U64(0b10) << U64(7)) | (dod[cls1] + 63).astype(U64)
        ln[cls1] = 9
        code[cls2] = (U64(0b110) << U64(9)) | (dod[cls2] + 255).astype(U64)
        ln[cls2] = 12
        code[cls3] = (U64(0b1110) << U64(12)) | (dod[cls3] + 2047).astype(U64)
        ln[cls3] = 16
        code[cls4] = (U64(0b1111) << U64(32)) | (
            dod[cls4].astype(np.int64).astype(np.uint32).astype(U64)
        )
        ln[cls4] = 36
        t_codes[1:], t_lens[1:] = code, ln
    ts_bits = _pack_bits(t_codes, t_lens)

    # ---- values: up to 4 fields per point (i >= 1), +raw word for i=0
    xor = np.concatenate([[U64(0)], words[1:] ^ words[:-1]])
    lead = np.minimum(_clz64(xor), 31)
    trail = _ctz64(xor)
    nz = xor != 0
    # carried window: own (lead, trail) where xor != 0, else previous
    idx = np.arange(n)
    last_nz = np.maximum.accumulate(np.where(nz, idx, -1))
    wvalid = last_nz >= 0
    wlead = np.where(wvalid, lead[np.maximum(last_nz, 0)], 0)
    wtrail = np.where(wvalid, trail[np.maximum(last_nz, 0)], 0)
    # reuse decision for point i (vs carried window of i-1)
    pv = np.concatenate([[False], wvalid[:-1]])
    pl = np.concatenate([[0], wlead[:-1]])
    pt = np.concatenate([[0], wtrail[:-1]])
    reuse = nz & pv & (lead >= pl) & (trail >= pt)
    fresh = nz & ~reuse
    # meaningful region actually used per point
    use_trail = np.where(reuse, pt, trail)
    use_len = np.where(reuse, 64 - pl - pt, 64 - lead - trail)
    fields_c = np.zeros((n, 4), dtype=U64)
    fields_l = np.zeros((n, 4), dtype=np.int64)
    # f0: '0' stored / '1' xor path (for i>=1)
    fields_c[1:, 0] = nz[1:].astype(U64)
    fields_l[1:, 0] = 1
    # f1: control bit (only when xor != 0): reuse -> 0, fresh -> 1
    fields_c[:, 1] = fresh.astype(U64)
    fields_l[nz, 1] = 1
    # f2: fresh window spec: 5b lead + 6b (len-1)
    fields_c[fresh, 2] = (lead[fresh].astype(U64) << U64(6)) | (
        use_len[fresh] - 1
    ).astype(U64)
    fields_l[fresh, 2] = 11
    # f3: meaningful bits
    shift = use_trail.astype(U64)
    mask = np.where(
        use_len >= 64, ~U64(0), (_ONE << use_len.astype(U64)) - _ONE
    )
    fields_c[nz, 3] = (xor[nz] >> shift[nz]) & mask[nz]
    fields_l[nz, 3] = use_len[nz]
    # point 0: raw 64-bit word (single field)
    fields_c[0, :] = 0
    fields_l[0, :] = 0
    fields_c[0, 3] = words[0]
    fields_l[0, 3] = 64
    val_bits = _pack_bits(fields_c.ravel(), fields_l.ravel())
    return ts_bits, val_bits


def decode_chunk_arrays(
    ts_bits: bytes, val_bits: bytes, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_chunk_arrays -> (ts_units int64, words uint64).

    Hot loops are pure-Python int arithmetic over the sliding-window
    index: ONE window fetch covers a whole timestamp field (<= 4 control
    + 32 payload = 36 bits) or a whole value header (f0 + control +
    5b lead + 6b len = 13 bits), so cost is O(1) small-int ops per
    point with no per-bit work — measured 11-13x the round-1 bit-loop
    reader on mixed chunks (tests/test_gorilla.py::
    test_decode_throughput_floor), and the all-zero tail (regular
    series / repeated values) finishes vectorized at >10 Mpts/s."""
    # ---- timestamps
    w8, last1 = _sliding_windows(ts_bits)
    out_ts = [0] * n
    delta = (w8[0] >> 50) & 0x3FFF  # 14-bit first delta at bit 0
    out_ts[0] = prev = delta
    pos = 14
    i = 1
    while i < n:
        if pos > last1:
            # every remaining code is the 1-bit dod==0 — the regular-
            # series common case — so the tail is pure arithmetic
            ts_arr = np.array(out_ts, dtype=np.int64)
            ts_arr[i:] = prev + delta * np.arange(1, n - i + 1, dtype=np.int64)
            break
        w = w8[pos >> 3]
        f = (w >> (28 - (pos & 7))) & 0xFFFFFFFFF  # next 36 bits, MSB-first
        if not (f >> 35):
            dod = 0
            pos += 1
        elif not ((f >> 34) & 1):
            dod = ((f >> 27) & 0x7F) - 63
            pos += 9
        elif not ((f >> 33) & 1):
            dod = ((f >> 24) & 0x1FF) - 255
            pos += 12
        elif not ((f >> 32) & 1):
            dod = ((f >> 20) & 0xFFF) - 2047
            pos += 16
        else:
            raw = f & 0xFFFFFFFF
            dod = raw - (1 << 32) if raw >= (1 << 31) else raw
            pos += 36
        delta += dod
        prev += delta
        out_ts[i] = prev
        i += 1
    else:
        ts_arr = np.array(out_ts, dtype=np.int64)

    # ---- values
    w8, last1 = _sliding_windows(val_bits)
    out_w = [0] * n
    prev = w8[0]  # raw 64-bit first word == the first full window
    out_w[0] = prev
    pos = 64
    wlead = wtrail = 0
    i = 1
    while i < n:
        if pos > last1:
            out_w[i:] = [prev] * (n - i)  # all remaining xors are 0
            break
        w = w8[pos >> 3]
        off = pos & 7
        hdr = (w >> (51 - off)) & 0x1FFF  # f0 + control + 5b lead + 6b (len-1)
        if not (hdr >> 12):  # xor == 0
            out_w[i] = prev
            pos += 1
            i += 1
            continue
        if not ((hdr >> 11) & 1):  # reuse carried window
            mlen = 64 - wlead - wtrail
            trail = wtrail
            pos += 2
        else:  # fresh window spec
            wlead = (hdr >> 6) & 0x1F
            mlen = (hdr & 0x3F) + 1
            trail = 64 - wlead - mlen
            pos += 13
        if mlen <= 56:
            bits = (w8[pos >> 3] >> (64 - (pos & 7) - mlen)) & ((1 << mlen) - 1)
        else:
            hi_n = mlen - 32
            hi = (w8[pos >> 3] >> (64 - (pos & 7) - hi_n)) & ((1 << hi_n) - 1)
            p2 = pos + hi_n
            bits = (hi << 32) | ((w8[p2 >> 3] >> (32 - (p2 & 7))) & 0xFFFFFFFF)
        pos += mlen
        xor = bits << trail
        prev ^= xor
        out_w[i] = prev
        # carried window recomputed from the reconstructed xor
        wlead = min(64 - xor.bit_length(), 31)
        wtrail = (xor & -xor).bit_length() - 1
        i += 1
    words = np.array(out_w, dtype=np.uint64)
    return ts_arr, words


# ------------------------------------------------- lane-parallel decode (C2)
#
# decode_chunk_arrays above is inherently serial WITHIN a chunk (every
# field's bit position depends on the decoded content before it), but a
# batch on the read path carries thousands of chunks — so the batch
# decodes LANE-parallel instead: one numpy lane per chunk,
# each loop iteration advancing every still-active lane by one point.
# Per-iteration cost is a fixed ~40 numpy dispatches on |active|-wide
# vectors, so wide batches amortize to 5-6x the scalar reader on
# worst-case (every-point-slow-path) chunks and ~8x on repeated-value
# chunks (measured: tests/test_gorilla.py::test_lane_throughput_floor).
# When the active width decays below _MIN_LANES (heterogeneous chunk
# sizes), the survivors hand off to scalar python-int continuations —
# numpy dispatch on near-empty vectors loses to python arithmetic.

# NOTE: decode_chunk_arrays (the scalar reader) and the _ts_resume/
# _val_resume handoff loops each carry their own copy of the bit
# grammar ON PURPOSE: the scalar reader is the independent reference
# the hypothesis differential test checks the lane decoder against —
# merging them into one shared grammar would make that test
# self-referential. A grammar change must touch all copies; the
# differential test is what catches a missed one.

# ts field class from the top 4 bits of the 36-bit window (= number of
# leading ones); per-class shift/mask/xor/sub decode the dod in 4 ops
_T_CLS = np.array(
    [4 if v == 15 else 3 if v >= 14 else 2 if v >= 12 else 1 if v >= 8
     else 0 for v in range(16)],
    dtype=np.int64,
)
_T_SH = np.array([35, 27, 24, 20, 0], dtype=np.int64)
_T_MASK = np.array([0, 0x7F, 0x1FF, 0xFFF, 0xFFFFFFFF], dtype=np.int64)
_T_XOR = np.array([0, 0, 0, 0, 0x80000000], dtype=np.int64)
_T_SUB = np.array([0, 63, 255, 2047, 0x80000000], dtype=np.int64)
_T_LEN = np.array([1, 9, 12, 16, 36], dtype=np.int64)

_MIN_LANES = 12
_M64 = (1 << 64) - 1


def _bitlen_f(x64: np.ndarray) -> np.ndarray:
    """Exact vectorized bit_length for uint64 via frexp on a hi/lo
    split that keeps every float64 conversion exact (<2^32)."""
    hi = (x64 >> U64(32)).astype(np.float64)
    lo = (x64 & U64(0xFFFFFFFF)).astype(np.float64)
    ehi = np.frexp(hi)[1]
    elo = np.frexp(lo)[1]
    return np.where(ehi > 0, ehi + 32, elo).astype(np.int64)


def _lane_words(blobs: list) -> tuple[np.ndarray, np.ndarray, int]:
    """Per-lane big-endian aligned 64-bit words (flattened) + per-lane
    last-set-bit position + words-per-lane stride. The 64-bit window at
    bit p in lane j is two flat gathers (see _lane_fetch) — the 2D twin
    of _sliding_windows without per-fetch byte assembly."""
    L = len(blobs)
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=L)
    maxlen = int(lens.max()) if L else 0
    width = ((maxlen + 16) + 7) & ~7  # pad: window overruns stay in-lane
    B = np.zeros((L, width), dtype=np.uint8)
    for j, b in enumerate(blobs):
        if b:
            B[j, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    W2 = B.view(">u8").astype(U64)  # one byteswap pass, aligned words
    # last set bit, found on the 8x-smaller word matrix: last nonzero
    # word, then 63 - ctz within it
    nzw = W2 != 0
    any_nz = nzw.any(axis=1)
    nwords = W2.shape[1]
    lastw = nwords - 1 - np.argmax(nzw[:, ::-1], axis=1)
    lw = np.where(any_nz, lastw, 0)
    wv = W2[np.arange(L), lw]
    lsb = wv & (~wv + U64(1))
    last1 = np.where(any_nz, lastw * 64 + 64 - _bitlen_f(lsb), -1)
    return W2.ravel(), last1, nwords


def _lane_fetch(
    W: np.ndarray, base: np.ndarray, pos: np.ndarray
) -> np.ndarray:
    """64-bit MSB-first window at byte offset pos>>3 per lane: combine
    the two aligned words that straddle it."""
    a = base + (pos >> 6)
    k = (((pos >> 3) & 7) << 3).astype(U64)
    return (W[a] << k) | (W[a + 1] >> U64(1) >> (U64(63) - k))


def _win(w: list, pos: int) -> int:
    """Python-int twin of _lane_fetch for the residual scalar path."""
    b = pos >> 6
    k = ((pos >> 3) & 7) << 3
    hi = (w[b] << k) & _M64
    return hi | (w[b + 1] >> (64 - k)) if k else w[b]


def _ts_resume(w, pos, last1, i, n, prev, delta, out, ob) -> None:
    """Scalar continuation of one lane's timestamp decode (same field
    grammar as decode_chunk_arrays, resumable mid-stream)."""
    while i < n:
        if pos > last1:
            out[ob + i : ob + n] = prev + delta * np.arange(
                1, n - i + 1, dtype=np.int64
            )
            return
        f = (_win(w, pos) >> (28 - (pos & 7))) & 0xFFFFFFFFF
        if not (f >> 35):
            dod = 0
            pos += 1
        elif not ((f >> 34) & 1):
            dod = ((f >> 27) & 0x7F) - 63
            pos += 9
        elif not ((f >> 33) & 1):
            dod = ((f >> 24) & 0x1FF) - 255
            pos += 12
        elif not ((f >> 32) & 1):
            dod = ((f >> 20) & 0xFFF) - 2047
            pos += 16
        else:
            raw = f & 0xFFFFFFFF
            dod = raw - (1 << 32) if raw >= (1 << 31) else raw
            pos += 36
        delta += dod
        prev += delta
        out[ob + i] = prev
        i += 1


def _val_resume(w, pos, last1, i, n, prev, wlead, wtrail, out, ob) -> None:
    """Scalar continuation of one lane's value decode."""
    while i < n:
        if pos > last1:
            out[ob + i : ob + n] = prev
            return
        hdr = (_win(w, pos) >> (51 - (pos & 7))) & 0x1FFF
        if not (hdr >> 12):
            out[ob + i] = prev
            pos += 1
            i += 1
            continue
        if not ((hdr >> 11) & 1):
            mlen = 64 - wlead - wtrail
            trail = wtrail
            pos += 2
        else:
            wlead = (hdr >> 6) & 0x1F
            mlen = (hdr & 0x3F) + 1
            trail = 64 - wlead - mlen
            pos += 13
        if mlen <= 56:
            bits = (_win(w, pos) >> (64 - (pos & 7) - mlen)) & (
                (1 << mlen) - 1
            )
        else:
            hi_n = mlen - 32
            hi = (_win(w, pos) >> (64 - (pos & 7) - hi_n)) & (
                (1 << hi_n) - 1
            )
            p2 = pos + hi_n
            bits = (hi << 32) | (
                (_win(w, p2) >> (32 - (p2 & 7))) & 0xFFFFFFFF
            )
        pos += mlen
        xor = bits << trail
        prev ^= xor
        out[ob + i] = prev
        wlead = min(64 - xor.bit_length(), 31)
        wtrail = (xor & -xor).bit_length() - 1
        i += 1


def decode_chunk_lanes(
    ts_blobs: list, val_blobs: list, ns: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY chunks at once, one numpy lane per chunk.

    Returns (ts_units int64, words uint64) as FLAT arrays, row-major in
    input order (chunk 0's ns[0] points, then chunk 1's, ...). Exactly
    equivalent to decode_chunk_arrays per chunk (differential-tested,
    tests/test_gorilla.py::test_lane_matches_scalar_property).
    """
    L = len(ns)
    ns = np.asarray(ns, dtype=np.int64)
    if L == 0:
        return np.empty(0, np.int64), np.empty(0, U64)
    max_n = int(ns.max())
    obase_all = np.concatenate([[0], np.cumsum(ns)[:-1]])

    # ---------------- timestamps
    W, last1_all, stride = _lane_words(ts_blobs)
    out_ts = np.zeros(int(ns.sum()), dtype=np.int64)
    w0 = _lane_fetch(W, np.arange(L) * stride, np.zeros(L, dtype=np.int64))
    delta0 = ((w0 >> U64(50)) & U64(0x3FFF)).astype(np.int64)
    out_ts[obase_all] = delta0

    live = ns > 1
    delta = delta0[live]
    prev = delta.copy()
    base = np.flatnonzero(live) * stride
    obase = obase_all[live]
    n_a = ns[live]
    last1 = last1_all[live]
    pos = np.full(len(delta), 14, dtype=np.int64)
    i = 1
    while len(pos):
        tail = pos > last1
        if tail.any():
            # remaining codes in these lanes are all 1-bit dod==0 —
            # finish each with one vectorized arithmetic fill
            for t in np.flatnonzero(tail):
                nj = int(n_a[t])
                out_ts[obase[t] + i : obase[t] + nj] = prev[t] + delta[
                    t
                ] * np.arange(1, nj - i + 1, dtype=np.int64)
            keep = ~tail
            delta, prev, base, obase = (
                delta[keep], prev[keep], base[keep], obase[keep],
            )
            n_a, last1, pos = n_a[keep], last1[keep], pos[keep]
            if not len(pos):
                break
        if len(pos) < _MIN_LANES:
            for t in range(len(pos)):
                w = W[base[t] : base[t] + stride].tolist()
                _ts_resume(
                    w, int(pos[t]), int(last1[t]), i, int(n_a[t]),
                    int(prev[t]), int(delta[t]), out_ts, int(obase[t]),
                )
            break
        f = (
            (_lane_fetch(W, base, pos) >> (U64(28) - (pos & 7).astype(U64)))
            & U64(0xFFFFFFFFF)
        ).astype(np.int64)
        c = _T_CLS[f >> 32]
        dod = (((f >> _T_SH[c]) & _T_MASK[c]) ^ _T_XOR[c]) - _T_SUB[c]
        delta += dod
        prev += delta
        out_ts[obase + i] = prev
        pos += _T_LEN[c]
        i += 1
        if i < max_n:
            keep = n_a > i
            if not keep.all():
                delta, prev, base, obase = (
                    delta[keep], prev[keep], base[keep], obase[keep],
                )
                n_a, last1, pos = n_a[keep], last1[keep], pos[keep]
        else:
            break

    # ---------------- values
    W, last1_all, stride = _lane_words(val_blobs)
    out_w = np.zeros(int(ns.sum()), dtype=U64)
    prev0 = _lane_fetch(W, np.arange(L) * stride, np.zeros(L, dtype=np.int64))
    out_w[obase_all] = prev0

    live = ns > 1
    prevw = prev0[live].copy()
    base = np.flatnonzero(live) * stride
    obase = obase_all[live]
    n_a = ns[live]
    last1 = last1_all[live]
    pos = np.full(len(prevw), 64, dtype=np.int64)
    wlead = np.zeros(len(prevw), dtype=np.int64)
    wtrail = np.zeros(len(prevw), dtype=np.int64)
    i = 1
    while len(pos):
        tail = pos > last1
        if tail.any():
            for t in np.flatnonzero(tail):
                out_w[obase[t] + i : obase[t] + int(n_a[t])] = prevw[t]
            keep = ~tail
            prevw, base, obase = prevw[keep], base[keep], obase[keep]
            n_a, last1, pos = n_a[keep], last1[keep], pos[keep]
            wlead, wtrail = wlead[keep], wtrail[keep]
            if not len(pos):
                break
        if len(pos) < _MIN_LANES:
            for t in range(len(pos)):
                w = W[base[t] : base[t] + stride].tolist()
                _val_resume(
                    w, int(pos[t]), int(last1[t]), i, int(n_a[t]),
                    int(prevw[t]), int(wlead[t]), int(wtrail[t]),
                    out_w, int(obase[t]),
                )
            break
        hdr = (
            (_lane_fetch(W, base, pos) >> (U64(51) - (pos & 7).astype(U64)))
            & U64(0x1FFF)
        ).astype(np.int64)
        nz = hdr >= 0x1000
        reuse = nz & ((hdr & 0x800) == 0)
        fr_lead = (hdr >> 6) & 0x1F
        fr_mlen = (hdr & 0x3F) + 1
        mlen = np.where(
            nz, np.where(reuse, 64 - wlead - wtrail, fr_mlen), 0
        )
        trail = np.where(reuse, wtrail, 64 - fr_lead - fr_mlen)
        p2 = pos + np.where(nz, np.where(reuse, 2, 13), 1)
        # payload, single fetch (fields <= 56 bits); wider fields are
        # rare (huge fresh windows) and patched scalar below
        wv = _lane_fetch(W, base, p2)
        sh = np.maximum(64 - (p2 & 7) - mlen, 0).astype(U64)
        mask = (U64(1) << np.minimum(mlen, 63).astype(U64)) - U64(1)
        bits = (wv >> sh) & mask
        big = mlen > 56
        if big.any():
            for t in np.flatnonzero(big):
                bp, bm = int(p2[t]), int(mlen[t])
                w = W[base[t] : base[t] + stride].tolist()
                hi_n = bm - 32
                hi = (_win(w, bp) >> (64 - (bp & 7) - hi_n)) & (
                    (1 << hi_n) - 1
                )
                q = bp + hi_n
                lo = (_win(w, q) >> (32 - (q & 7))) & 0xFFFFFFFF
                bits[t] = U64((hi << 32) | lo)
        xor = np.where(nz, bits << trail.astype(U64), U64(0))
        prevw ^= xor
        out_w[obase + i] = prevw
        pos = p2 + mlen
        blen = _bitlen_f(xor)
        wlead = np.where(nz, np.minimum(64 - blen, 31), wlead)
        lsb = xor & (~xor + U64(1))
        wtrail = np.where(nz, _bitlen_f(lsb) - 1, wtrail)
        i += 1
        if i < max_n:
            keep = n_a > i
            if not keep.all():
                prevw, base, obase = prevw[keep], base[keep], obase[keep]
                n_a, last1, pos = n_a[keep], last1[keep], pos[keep]
                wlead, wtrail = wlead[keep], wtrail[keep]
        else:
            break

    return out_ts, out_w


# ------------------------------------------------------------ Spark surface

CHUNK_SCHEMA = (
    "series_id string, interval string, chunk_start timestamp, agg string, "
    "n int, ts_bits binary, val_bits binary, raw_bytes long, enc_bytes long"
)

POINT_SCHEMA = (
    "series_id string, interval string, agg string, "
    "window_start timestamp, value long"
)


_KEYS = ("series_id", "agg", "chunk_start")


def _group_bounds(tbl) -> np.ndarray:
    """Group offsets of an Arrow table sorted by _KEYS: group g is rows
    [bounds[g], bounds[g + 1]) (non-empty table; bounds[-1] == rows)."""
    import pyarrow.compute as pc

    n = tbl.num_rows
    change = np.zeros(n - 1, dtype=bool)
    for k in _KEYS:
        c = tbl.column(k)
        change |= pc.not_equal(c.slice(1), c.slice(0, n - 1)).to_numpy()
    return np.concatenate([[0], np.flatnonzero(change) + 1, [n]])


def encode_sorted_batches(batches, interval: str):
    """The encode kernel behind encode_chunks: Arrow batches of long
    rows (series_id, agg, chunk_start, epoch, value), sorted by
    (series_id, agg, chunk_start, epoch) across the whole stream ->
    one CHUNK_SCHEMA RecordBatch per input batch, one row per
    (series_id, agg, chunk_start) group.

    A group may straddle batches, so the last group of every batch is
    held back and prepended to the next one: the carry is at most one
    (possibly unfinished) group — <= chunk_points rows for a tier with
    one row per (series, window) — and is flushed after the last
    batch."""
    import pyarrow as pa

    sec = INTERVAL_SECONDS[interval]

    def encode(tbl, bounds: np.ndarray):
        starts, ends = bounds[:-1], bounds[1:]
        cs = tbl.column("chunk_start").to_numpy()
        ts_units = (tbl.column("epoch").to_numpy() - cs) // sec
        words = tbl.column("value").to_numpy().view(U64)
        ts_out, val_out = [], []
        for s, e in zip(starts.tolist(), ends.tolist()):
            tb, vb = encode_chunk_arrays(ts_units[s:e], words[s:e])
            ts_out.append(tb)
            val_out.append(vb)
        n = ends - starts
        enc = np.fromiter(
            (len(a) + len(b) for a, b in zip(ts_out, val_out)),
            dtype=np.int64, count=len(ts_out),
        )
        return pa.RecordBatch.from_arrays(
            [
                tbl.column("series_id").take(starts).combine_chunks(),
                pa.array([interval] * len(starts), pa.string()),
                pa.array(cs[starts] * 1_000_000, pa.timestamp("us", tz="UTC")),
                tbl.column("agg").take(starts).combine_chunks(),
                pa.array(n, pa.int32()),
                pa.array(ts_out, pa.binary()),
                pa.array(val_out, pa.binary()),
                pa.array(16 * n),  # 8B ts + 8B value per raw point
                pa.array(enc),
            ],
            names=["series_id", "interval", "chunk_start", "agg", "n",
                   "ts_bits", "val_bits", "raw_bytes", "enc_bytes"],
        )

    carry = None
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        if carry is not None:
            tbl = pa.concat_tables([carry, tbl])
        if not tbl.num_rows:
            continue
        bounds = _group_bounds(tbl)
        yield encode(tbl, bounds[:-1])
        carry = tbl.slice(bounds[-2])
    if carry is not None:
        yield encode(carry, np.array([0, carry.num_rows]))


def encode_chunks(
    rollup: "DataFrame", interval: str, chunk_points: int = 4096
) -> "DataFrame":
    """C1: rollup tier -> Gorilla chunk table, one row per
    (series, agg, chunk). Long format via F.stack (JVM), then
    repartition(series_id) + sortWithinPartitions(series_id, agg,
    chunk_start, epoch) feed one mapInArrow pass (encode_sorted_batches):
    one Python call per Arrow batch, groups split inside the batch, and
    a group cut by a batch boundary carried into the next batch (at
    most one group is held). Rows are narrow (~48 B), so the session's
    record cap, not its byte cap, sizes the batches."""
    from pyspark.sql import functions as F

    sec = INTERVAL_SECONDS[interval]
    chunk_sec = sec * chunk_points
    stack_args = []
    for agg in STORED_AGGS:
        stack_args += [F.lit(agg), F.col(agg)]
    long_df = rollup.select(
        "series_id",
        F.unix_timestamp("window_start").cast("long").alias("epoch"),
        F.stack(F.lit(len(STORED_AGGS)), *stack_args).alias("agg", "value"),
    ).withColumn(
        "chunk_start", (F.floor(F.col("epoch") / chunk_sec) * chunk_sec).cast("long")
    )
    ordered = (
        long_df.repartition("series_id")
        .sortWithinPartitions("series_id", "agg", "chunk_start", "epoch")
        .select("series_id", "agg", "chunk_start", "epoch",
                F.col("value").cast("long").alias("value"))
    )
    return ordered.mapInArrow(
        lambda it: encode_sorted_batches(it, interval), CHUNK_SCHEMA
    )


#: decode working-set bound, in points: each decode_chunk_lanes call
#: gets a run of chunks with sum(n) <= this (its flat output, ~80 MB
#: at 4M) and lanes x max(n) <= this (its lanes x widest-blob byte
#: matrix and the u64 copy of it), however many chunk rows the input
#: batch carried — a 32 MB batch of ~30k small chunks plus one full
#: one would otherwise build a ~1 GB matrix. For uniform full chunks
#: the two sums are equal.
DECODE_FLUSH_POINTS = 4_000_000


def _decode_runs(ns: np.ndarray):
    """Cut a batch's chunks (point counts ``ns``) into consecutive runs
    [lo, hi) with sum(n) and lanes x max(n) both <= DECODE_FLUSH_POINTS
    (a single chunk past it gets a run of its own). Both totals only
    grow with the run, so the longest fitting prefix is a count."""
    lo = 0
    while lo < len(ns):
        rest = ns[lo:]
        lanes = np.arange(1, len(rest) + 1)
        fits = (np.cumsum(rest) <= DECODE_FLUSH_POINTS) & (
            lanes * np.maximum.accumulate(rest) <= DECODE_FLUSH_POINTS
        )
        hi = lo + max(1, int(fits.sum()))
        yield lo, hi
        lo = hi


def decode_batches(batches):
    """The decode kernel behind decode_chunks: pandas frames of chunk
    rows -> POINT_SCHEMA frames. Each frame decodes LANE-PARALLEL
    (decode_chunk_lanes: a run's chunks advance in lockstep, one numpy
    op stream over all active lanes), one run of _decode_runs at a
    time, so neither the lane matrix nor an output frame exceeds
    DECODE_FLUSH_POINTS points."""
    for pdf in batches:
        if not len(pdf):
            continue
        ns = pdf["n"].to_numpy(np.int64)
        secs = pdf["interval"].map(INTERVAL_SECONDS).to_numpy(np.int64)
        # resolution-proof epoch seconds: Spark's Arrow serializer
        # coerces to datetime64[ns] today, but a future
        # pandas-2-native datetime64[us] delivery would make a
        # hardcoded //1e9 silently produce 1970-era epochs
        starts = (
            pdf["chunk_start"].to_numpy().astype("datetime64[s]").astype(np.int64)
        )
        for lo, hi in _decode_runs(ns):
            sub = slice(lo, hi)
            nsub = ns[sub]
            ts_units, words = decode_chunk_lanes(
                [bytes(b) for b in pdf["ts_bits"].iloc[sub]],
                [bytes(b) for b in pdf["val_bits"].iloc[sub]],
                nsub,
            )
            epoch = np.repeat(starts[sub], nsub) + ts_units * np.repeat(
                secs[sub], nsub
            )
            yield pd.DataFrame(
                {
                    "series_id": np.repeat(pdf["series_id"].to_numpy()[sub], nsub),
                    "interval": np.repeat(pdf["interval"].to_numpy()[sub], nsub),
                    "agg": np.repeat(pdf["agg"].to_numpy()[sub], nsub),
                    "window_start": pd.to_datetime(epoch, unit="s"),
                    "value": words.view(np.int64),
                }
            )


def decode_chunks(chunks: "DataFrame") -> "DataFrame":
    """C2: chunk table -> decoded points (read path / roundtrip).

    Wide-row Arrow path: each input row is a whole compressed chunk
    (multi-KB blobs, up to 4096 points), so the session's byte cap
    (session.ENGINE_CONF, 32 MB) sizes the input batches: a few
    thousand full chunks, or many more small ones. decode_batches
    then bounds each lane decode by DECODE_FLUSH_POINTS, whatever the
    batch holds."""
    return chunks.mapInPandas(decode_batches, POINT_SCHEMA)


def pruned_read(
    chunks: "DataFrame",
    t0: int,
    t1: int,
    chunk_points: int = 4096,
) -> "DataFrame":
    """Range read over the chunk table: [t0, t1) epoch seconds.

    The expensive step of the read path is decode (Python/Arrow), so
    whole chunks are pruned FIRST on chunk-level metadata — a chunk at
    ``chunk_start`` covers [chunk_start, chunk_start + interval *
    chunk_points) — and only survivors are decoded, then the decoded
    windows get the exact residual filter. On a parquet/Iceberg chunk
    table the metadata predicate is a plain column filter: it pushes
    to the scan (footer min/max row-group skip; TIMESTAMP_MICROS so
    the stats exist — see sources.store), so at 100 TB the decode cost
    scales with |range|, not |table|. The upper bound is written on the
    raw ``chunk_start`` against a timestamp literal, so it is the term
    that pushes; the lower bound depends on each row's interval and
    stays an exact filter over ``unix_timestamp(chunk_start)``.
    """
    from pyspark.sql import functions as F

    span = F.element_at(
        F.create_map(
            *[
                x
                for k, v in INTERVAL_SECONDS.items()
                for x in (F.lit(k), F.lit(v * chunk_points))
            ]
        ),
        F.col("interval"),
    ).cast("long")
    cs = F.unix_timestamp("chunk_start").cast("long")
    kept = chunks.filter(
        (F.col("chunk_start") < F.timestamp_seconds(F.lit(t1)))
        & (cs + span > F.lit(t0))
    )
    dec = decode_chunks(kept)
    ws = F.unix_timestamp("window_start").cast("long")
    return dec.filter((ws >= F.lit(t0)) & (ws < F.lit(t1)))


def compression_stats(chunks: "DataFrame") -> "DataFrame":
    """C3: bytes/point and ratio per (interval, agg) -> metrics feed."""
    from pyspark.sql import functions as F

    return chunks.groupBy("interval", "agg").agg(
        F.sum("n").alias("points"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.sum("raw_bytes").alias("raw_bytes"),
        (F.sum("enc_bytes") / F.sum("n")).alias("bytes_per_point"),
        (F.sum("raw_bytes") / F.sum("enc_bytes")).alias("ratio"),
    )
