"""OpenTSDB /api/query tag-FILTER semantics and /api/suggest.

OpenTSDB 2.2+ queries carry a list of tag filters, each
``{type, tagk, filter, groupBy}`` (public HTTP-API docs,
/api/query + net.opentsdb.query.filter.TagVFilter). The core filter
family implemented here:

  literal_or / iliteral_or      pipe-separated exact values (i = case-
                                insensitive)
  not_literal_or /              tag present AND value not in the list
  not_iliteral_or               (i = compare case-insensitively)
  wildcard / iwildcard          '*' glob (the only wildcard OpenTSDB
                                supports); translated to SQL LIKE with
                                literal %/_ escaped
  regexp                        full-match regex (Java Pattern.matches
                                semantics — OpenTSDB anchors the whole
                                value, so we wrap '^(?:...)$')
  not_key                       series must NOT carry the tag key at
                                all (the one filter whose semantics is
                                key ABSENCE; OpenTSDB requires its
                                filter value empty and forbids groupBy
                                — an absent key has no value to group
                                on — both enforced here)

Semantics faithful to the reference engine:
  - every filter requires the tag to be PRESENT on the series (a
    series without the tagk never matches, including not_literal_or);
  - multiple filters AND together;
  - filters with groupBy=true become output dimensions; all other
    series collapse under the aggregator (here: the decomposable
    sum/count/min/max family plus derived avg).

Scale notes: the compiled predicate is a pure Catalyst expression
tree over a ``map<string,string>`` column — codegen'd, pushdown-
eligible when the tags are stored as top-level columns, and never a
Python UDF. The group-by tags are extracted BEFORE the aggregation so
the shuffle key is (narrow string tags, window), not the whole map.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import STORED_AGGS
from .rollup import stored_aggs


@dataclass(frozen=True)
class TagFilter:
    """One /api/query filter: {type, tagk, filter, groupBy}."""

    type: str
    tagk: str
    filter: str
    group_by: bool = field(default=False)


def _like_pattern(glob: str) -> str:
    """OpenTSDB wildcard ('*' only) -> SQL LIKE pattern.

    Literal %/_/\\ in tag values are escaped with backslash (both
    Spark LIKE and DuckDB LIKE ... ESCAPE '\\' honor it)."""
    out = []
    for ch in glob:
        if ch == "*":
            out.append("%")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


#: Stored-tag-column contract (r6): a frame carrying a plain column
#: named _tag_<tagk> declares it equal to element_at(tags, tagk); the
#: filter compilers consume it when present. Why: filter PUSHDOWN
#: substitutes a staged map alias into every pushed predicate with no
#: multi-reference guard (the same optimizer behavior the session
#: factory documents for InferFiltersFromGenerate), so a 4-filter
#: spec inlines the whole create_map once per element_at — ~9 map
#: builds per scanned row, enough generated code that the stage falls
#: off efficient codegen (measured 4.4 s vs 1.0 s on the 1M-row
#: api_query_group_avg narrow stage at sf1.0). A plain derived column
#: inlines as ONE cheap concat per predicate instead.
TAG_COL_PREFIX = "_tag_"


def tag_value_col(frame: DataFrame, tags_col: str, tagk: str) -> Column:
    """The value of tag ``tagk``: the stored _tag_<k> column when the
    frame carries one (see TAG_COL_PREFIX), else element_at(map)."""
    c = TAG_COL_PREFIX + tagk
    if c in frame.columns:
        return F.col(c)
    return F.element_at(F.col(tags_col), F.lit(tagk))


def compile_tag_filter(
    tags: Column, f: TagFilter, value: Column | None = None
) -> Column:
    """One filter spec -> a boolean Column over a map<string,string>.

    Pure built-in expressions (element_at / in / like / rlike) — the
    whole predicate stays inside whole-stage codegen. ``value``: the
    pre-extracted tag value column (tag_value_col) when the frame
    stores one."""
    v = F.element_at(tags, F.lit(f.tagk)) if value is None else value
    present = v.isNotNull()
    t = f.type
    if t == "literal_or":
        return present & v.isin(*f.filter.split("|"))
    if t == "iliteral_or":
        vals = [s.lower() for s in f.filter.split("|")]
        return present & F.lower(v).isin(*vals)
    if t == "not_literal_or":
        return present & ~v.isin(*f.filter.split("|"))
    if t == "not_iliteral_or":
        vals = [s.lower() for s in f.filter.split("|")]
        return present & ~F.lower(v).isin(*vals)
    if t == "not_key":
        if f.filter:
            raise ValueError(
                "not_key takes no filter value (OpenTSDB requires it "
                f"empty); got {f.filter!r} for tagk {f.tagk!r}"
            )
        if f.group_by:
            raise ValueError(
                f"not_key cannot be a groupBy dimension (tagk "
                f"{f.tagk!r} is required ABSENT, so it has no value)"
            )
        return v.isNull()
    if t == "wildcard":
        return present & v.like(_like_pattern(f.filter))
    if t == "iwildcard":
        return present & F.lower(v).like(_like_pattern(f.filter.lower()))
    if t == "regexp":
        return present & v.rlike("^(?:" + f.filter + ")$")
    raise ValueError(f"unknown filter type: {f.type}")


def explicit_tags_predicate(
    tags: Column, filters: list["TagFilter"]
) -> Column:
    """OpenTSDB 2.3 ``explicitTags``: the series' tag set must be
    EXACTLY the filtered tag keys — a series carrying any extra tag
    is excluded even if every filter matches. Implemented as a size
    check (the per-filter compile already requires each filtered key
    present, so size-equality plus those presence checks IS set
    equality); still a pure codegen'd map expression.

    A ``not_key`` filter's tagk does not count toward the expected
    set: that filter requires the key ABSENT, so the exact tag set a
    matching series may carry is the remaining filters' keys."""
    tagks = sorted({f.tagk for f in filters if f.type != "not_key"})
    return F.size(F.map_keys(tags)) == F.lit(len(tagks))


def tag_filter_rollup(
    points: DataFrame,
    filters: list[TagFilter],
    interval_sec: int,
    tags_col: str = "tags",
    explicit_tags: bool = False,
) -> DataFrame:
    """/api/query over tagged points: filter, group by the groupBy
    tags + tumbling window, aggregate everything else.

    ``points``: (ts timestamp, value long, tags map<string,string>).
    Output: one row per (groupBy-tag values..., w_start) with
    sum/count/min/max and derived avg — the same decomposable family
    every rollup tier in this engine uses, so the result of a tag
    query can itself cascade (SURVEY.md §2 A2).
    """
    tags = F.col(tags_col)
    pred = None
    for f in filters:
        c = compile_tag_filter(
            tags, f, value=tag_value_col(points, tags_col, f.tagk)
        )
        pred = c if pred is None else (pred & c)
    if explicit_tags and filters:
        e = explicit_tags_predicate(tags, filters)
        pred = e if pred is None else (pred & e)
    filtered = points.where(pred) if pred is not None else points

    # order-preserving dedup: two filters on one tagk (both
    # groupBy) are one output dimension (plans/api_query
    # _group_tag_keys rule)
    group_tags = list(dict.fromkeys(f.tagk for f in filters if f.group_by))
    # narrow projection BEFORE the shuffle: extracted groupBy tag
    # strings + window + value; the map column never reaches the agg
    w_start = (
        F.floor(F.unix_timestamp("ts") / F.lit(interval_sec)).cast("long")
        * F.lit(interval_sec)
    ).alias("w_start")
    narrow = filtered.select(
        *[
            tag_value_col(points, tags_col, k).alias(k)
            for k in group_tags
        ],
        w_start,
        "value",
    )
    agg = narrow.groupBy(*group_tags, "w_start").agg(*stored_aggs())
    return agg.select(
        *group_tags,
        "w_start",
        *STORED_AGGS,
        (F.col("sum").cast("double") / F.col("count").cast("double")).alias(
            "avg"
        ),
    )


def suggest(
    points: DataFrame,
    kind: str,
    prefix: str = "",
    limit: int = 25,
    tags_col: str = "tags",
    metric_col: str = "series_id",
) -> DataFrame:
    """/api/suggest: autocomplete over metrics / tag keys / tag values.

    Returns (kind, name) sorted ascending, capped at ``limit`` —
    OpenTSDB's suggest contract (lexicographic, max param). DISTINCT
    collapses map-side (partial agg) so the shuffle carries only the
    name dictionary, never the point stream; the limit is a
    TakeOrdered over that already-tiny set.
    """
    if kind == "metrics":
        names = points.select(F.col(metric_col).alias("name"))
    elif kind == "tagk":
        names = points.select(
            F.explode(F.map_keys(F.col(tags_col))).alias("name")
        )
    elif kind == "tagv":
        names = points.select(
            F.explode(F.map_values(F.col(tags_col))).alias("name")
        )
    else:
        raise ValueError(f"unknown suggest kind: {kind}")
    out = names.where(F.col("name").startswith(prefix)).distinct()
    return out.select(F.lit(kind).alias("kind"), "name").orderBy(
        "name"
    ).limit(limit)
