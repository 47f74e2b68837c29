"""Seeded request mix for the ``query_mix`` workload, and the pandas
recompute each request's result is checked against.

Request parameters come from ``random.Random(seed)``; the engine only
sees the resulting public calls. Ranges are aligned to the request's
resolution and sized so a result stays below ~140k rows.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

BASE = 1704067200  # config.EPOCH_BASE_SECONDS
HORIZON = 30 * 86400  # config.HORIZON_SECONDS
STATS = ("n_tok", "tok_sum", "tok_min", "tok_max", "tok_first", "tok_last")
SOURCES = ("web", "code", "books", "wiki")
H, D = 3600, 86400

#: read_rollup resolution -> (min, max) range in seconds
RR_RANGES = {60: (6 * H, 6 * H), 300: (6 * H, D), H: (D, 7 * D),
             2 * H: (2 * D, 14 * D), D: (7 * D, 30 * D)}
#: pruned_read chunk table -> (min, max) range in seconds
PR_RANGES = {"1m": (3 * H, D), "1h": (D, 7 * D)}
#: /api/query downsample interval -> (min, max) range in seconds
API_RANGES = {"10m": (6 * H, D), "1h": (D, 7 * D), "2h": (2 * D, 14 * D),
              "1d": (7 * D, 30 * D)}
API_SECONDS = {"10m": 600, "1h": H, "2h": 2 * H, "1d": D}


@dataclass(frozen=True)
class Request:
    kind: str  # "rollup" | "decode" | "api_query"
    t0: int
    t1: int
    resolution: int = 0  # rollup
    fill: str = "none"  # rollup
    series: tuple[str, str] = ("all", "")  # rollup: all | source | series
    table: str = ""  # decode: chunks_1m | chunks_1h
    qs: str = ""  # api_query GET string
    tier: bool = False  # api_query routed to the stored 1h tagged tier


#: share of each request kind in a plan
MIX = (("rollup", 0.40), ("decode", 0.25), ("api_query", 0.35))


def plan(rng: random.Random, n: int) -> list[Request]:
    """``n`` requests in the MIX proportions, in seeded order.

    The request *shapes* (kind, resolution, range length, fill,
    aggregators, filter width) are the same for every seed: they are
    drawn from a fixed generator. The seed draws where each range
    starts, which series, stat and shards it reads, and the order. Two
    seeds therefore ask for the same amount of work, and the spread
    between runs measures the engine and the machine rather than the
    mix."""
    fixed = random.Random(0)
    kinds = [k for k, share in MIX[:-1] for _ in range(round(share * n))]
    kinds += [MIX[-1][0]] * (n - len(kinds))
    shapes = [_shape(fixed, k) for k in kinds]
    rng.shuffle(shapes)
    return [_place(rng, s) for s in shapes]


def _shape(rng: random.Random, kind: str) -> dict:
    if kind == "rollup":
        res = rng.choice(sorted(RR_RANGES))
        lo, hi = RR_RANGES[res]
        return dict(kind=kind, align=res, span=rng.randrange(lo // res, hi // res + 1) * res,
                    resolution=res, fill=rng.choice(("none", "zero", "ffill")),
                    mode=rng.choice(("all", "source", "series")))
    if kind == "decode":
        tier = rng.choice(sorted(PR_RANGES))
        align = 60 if tier == "1m" else H
        lo, hi = PR_RANGES[tier]
        return dict(kind=kind, align=align, span=rng.randrange(lo // align, hi // align + 1) * align,
                    table=f"chunks_{tier}")
    iv = rng.choice(sorted(API_RANGES))
    sec = API_SECONDS[iv]
    lo, hi = API_RANGES[iv]
    return dict(kind=kind, align=sec, span=rng.randrange(lo // sec, hi // sec + 1) * sec,
                iv=iv, agg=rng.choice(("sum", "max", "min")),
                dsagg=rng.choice(("sum", "count", "max", "min")),
                fill=rng.choice(("", "-zero")), group=rng.choice(("{source=*}", "{}")),
                n_shards=rng.choice((2, 4, 16)), tier=sec % H == 0 and rng.random() < 0.5)


def _place(rng: random.Random, s: dict) -> Request:
    """A shape at a seeded position, over seeded series."""
    align, span = s["align"], s["span"]
    t0 = BASE + rng.randrange(0, (HORIZON - span) // align + 1) * align
    t1 = t0 + span
    if s["kind"] == "rollup":
        src = rng.choice(SOURCES)
        key = {"all": "", "source": src, "series": f"{src}:{rng.choice(STATS)}"}[s["mode"]]
        return Request("rollup", t0, t1, resolution=s["resolution"], fill=s["fill"],
                       series=(s["mode"], key))
    if s["kind"] == "decode":
        return Request("decode", t0, t1, table=s["table"])
    shards = sorted(rng.sample(range(16), s["n_shards"]))
    flt = "" if len(shards) == 16 else "{shard=" + "|".join(f"{x:02d}" for x in shards) + "}"
    group = s["group"] if (s["group"] != "{}" or flt) else ""
    qs = (f"start={t0}&end={t1}&m={s['agg']}:{s['iv']}-{s['dsagg']}{s['fill']}:"
          f"{rng.choice(STATS)}{group}{flt}")
    return Request("api_query", t0, t1, qs=qs, tier=s["tier"])


def draw(rng: random.Random, kind: str) -> Request:
    """One request of ``kind`` with seeded shape and parameters."""
    return _place(rng, _shape(rng, kind))


# ------------------------------------------------------------ recompute
#
# ``raw`` is the tagged point table as pandas: series_id ("source:stat"),
# metric, source, shard, ts (epoch seconds), value. Each function returns
# the rows the engine must return, sorted, plus the number of stored rows
# the engine had to scan to answer.


def _bucket(ts: pd.Series, sec: int) -> pd.Series:
    return ts // sec * sec


def expect_rollup(raw: pd.DataFrame, r: Request) -> tuple[pd.DataFrame, int]:
    p = raw[(raw.ts >= r.t0) & (raw.ts < r.t1)]
    mode, key = r.series
    if mode == "source":
        p = p[p.series_id.str.startswith(key + ":")]
    elif mode == "series":
        p = p[p.series_id == key]
    tier_sec = max(s for s in (60, H, D) if r.resolution % s == 0)
    scanned = len(p.assign(w=_bucket(p.ts, tier_sec)).drop_duplicates(["series_id", "w"]))
    g = (p.assign(window_start=_bucket(p.ts, r.resolution))
         .groupby(["series_id", "window_start"])["value"]
         .agg(["sum", "count", "min", "max"]).reset_index())
    if r.fill != "none" and len(g):
        parts = []
        for sid, grp in g.groupby("series_id"):
            spine = pd.DataFrame({"window_start": np.arange(
                grp.window_start.min(), grp.window_start.max() + 1, r.resolution)})
            m = spine.merge(grp, on="window_start", how="left")
            m["series_id"] = sid
            cols = ["sum", "count", "min", "max"]
            m[cols] = m[cols].fillna(0) if r.fill == "zero" else m[cols].ffill()
            parts.append(m)
        g = pd.concat(parts, ignore_index=True)
    g = g[["series_id", "window_start", "sum", "count", "min", "max"]].astype(
        {"window_start": "int64", "sum": "int64", "count": "int64",
         "min": "int64", "max": "int64"})
    return g.sort_values(["series_id", "window_start"]).reset_index(drop=True), scanned


def expect_decode(raw: pd.DataFrame, r: Request, chunks_meta: pd.DataFrame) -> tuple[pd.DataFrame, int]:
    """Decoded points of the chunk table in [t0, t1); ``scanned`` is the
    points held by the chunks pruned_read keeps, i.e. what it decodes."""
    sec = 60 if r.table == "chunks_1m" else H
    span = sec * 4096
    kept = chunks_meta[(chunks_meta.table == r.table) & (chunks_meta.chunk_start < r.t1)
                       & (chunks_meta.chunk_start + span > r.t0)]
    p = raw[(raw.ts >= r.t0) & (raw.ts < r.t1)]
    g = (p.assign(window_start=_bucket(p.ts, sec))
         .groupby(["series_id", "window_start"])["value"]
         .agg(["sum", "count", "min", "max"]).reset_index())
    long = g.melt(id_vars=["series_id", "window_start"], var_name="agg")
    long = long[["series_id", "agg", "window_start", "value"]].astype(
        {"window_start": "int64", "value": "int64"})
    return (long.sort_values(["series_id", "agg", "window_start"]).reset_index(drop=True),
            int(kept.n.sum()))


def _api_parts(qs: str) -> dict:
    params = dict(kv.split("=", 1) for kv in qs.split("&", 2)[:2])
    m = qs.split("&m=", 1)[1]
    agg, ds, rest = m.split(":", 2)
    iv, dsagg, *fill = ds.split("-")
    metric = rest.split("{", 1)[0]
    groups = [g.rstrip("}") for g in rest.split("{")[1:]]
    group_by = bool(groups) and groups[0] == "source=*"
    shards = None
    if len(groups) == 2 and groups[1]:
        shards = set(groups[1].split("=", 1)[1].split("|"))
    return dict(start=int(params["start"]), end=int(params["end"]), agg=agg,
                sec=API_SECONDS[iv], dsagg=dsagg, fill=bool(fill), metric=metric,
                group_by=group_by, shards=shards)


def expect_api(raw: pd.DataFrame, r: Request) -> tuple[pd.DataFrame, int]:
    q = _api_parts(r.qs)
    p = raw[(raw.metric == q["metric"]) & (raw.ts >= q["start"]) & (raw.ts < q["end"])]
    if q["shards"] is not None:
        p = p[p.shard.isin(q["shards"])]
    sec = q["sec"]
    per = (p.assign(w_start=_bucket(p.ts, sec))
           .groupby(["source", "shard", "w_start"])["value"].agg(q["dsagg"])
           .rename("v").reset_index())
    # a routed request scans the 1h tier: one row per series and hour
    scanned = (len(p.assign(h=_bucket(p.ts, H)).drop_duplicates(["source", "shard", "h"]))
               if r.tier else len(p))
    if q["fill"] and len(per):
        first_b, last_b = q["start"] // sec * sec, (q["end"] - 1) // sec * sec
        series = per[["source", "shard"]].drop_duplicates()
        spine = series.merge(pd.DataFrame({"w_start": np.arange(first_b, last_b + 1, sec)}),
                             how="cross")
        per = spine.merge(per, on=["source", "shard", "w_start"], how="left").fillna({"v": 0})
    keys = ["source", "w_start"] if q["group_by"] else ["w_start"]
    out = per.groupby(keys)["v"].agg(q["agg"]).rename("value").reset_index()
    out = out.astype({"w_start": "int64", "value": "int64"})
    return out.sort_values(keys).reset_index(drop=True), scanned


def normalize(kind: str, got: pd.DataFrame) -> pd.DataFrame:
    """The engine's result in the recompute's column layout."""
    if kind == "rollup":
        g = got.assign(window_start=got.window_start.astype("datetime64[s]").astype("int64"))
        return g[["series_id", "window_start", "sum", "count", "min", "max"]].sort_values(
            ["series_id", "window_start"]).reset_index(drop=True)
    if kind == "decode":
        g = got.assign(window_start=got.window_start.astype("datetime64[s]").astype("int64"))
        return g[["series_id", "agg", "window_start", "value"]].sort_values(
            ["series_id", "agg", "window_start"]).reset_index(drop=True)
    keys = [c for c in ("source", "w_start") if c in got.columns]
    return got[keys + ["value"]].astype({"w_start": "int64", "value": "int64"}).sort_values(
        keys).reset_index(drop=True)


def rollup_avg_ok(got: pd.DataFrame) -> bool:
    """read_rollup's derived avg is sum/count, null where count is 0."""
    c = got["count"].to_numpy()
    a = got["avg"].to_numpy(dtype=float)
    want = np.where(c > 0, got["sum"].to_numpy() / np.where(c > 0, c, 1), np.nan)
    return bool(np.allclose(a, want, equal_nan=True))
