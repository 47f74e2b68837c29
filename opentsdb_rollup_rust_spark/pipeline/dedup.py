"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard. All DataFrame-API; the only shuffles are the LSH bucket joins
— the standard trick that turns O(n^2) near-dup search into an
equi-join on band keys, which is exactly what survives at 10^9+ docs.

Scale notes (100 TB / 10^9 docs):
- exact dedup: one hash-groupBy, partial agg collapses per-task first.
- MinHash: signatures are per-row higher-order-function expressions
  (no shuffle); the band explode multiplies rows by `bands` (small
  constant); the candidate join shuffles on (band, key) — band keys
  are md5-uniform so no skew by construction.
- document-frequency cap (`max_df`): drop shingles/words occurring in
  more than max_df docs before any inverted-index join — the standard
  guard against hot-token skew blowing up the pair count.
- verification (exact Jaccard on candidates) touches only candidate
  pairs, not the n^2 space.

Cross-engine determinism: every hash is md5-derived (md5_int60), so
the DuckDB oracles reproduce signatures, band keys, and pair sets
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int60
from .text import doc_words

# Default LSH geometry: 16 hashes = 4 bands x 4 rows -> S-curve
# threshold ~(1/4)^(1/4) ~= 0.71 Jaccard.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
# MinHash permutations: each shingle is md5-hashed ONCE to h in [0, P),
# then sig[i] = min (a_i*h + b_i) mod P — pure integer lambdas, no
# per-permutation string hashing. P ~ 2^30 keeps a_i*h < 2^60 (exact
# int64 in Spark and DuckDB alike).
MINHASH_P = 1_000_000_007
SIMHASH_BITS = 60  # md5_int60 supplies 60 meaningful bits
SIMHASH_BANDS = 4  # 15-bit bands -> 32768 buckets/band: selective past 10^6 docs


def _shingles_from_words(w: Column, k: int = 3) -> Column:
    """k-word shingles from a words array.

    Primary path (r6): ONE regex pass over the space-joined words —
    a zero-width lookahead capture ``(?:^| )(?=((?:\\S+ ){k-1}\\S+))``
    matched with regexp_extract_all. The anchor alternation consumes
    the boundary (or matches ^ at position 0), the lookahead captures
    the k-word gram WITHOUT consuming it, so every overlapping gram
    surfaces, in positional order. Provably identical to the zip_with
    build whenever no word is the empty string: words from
    split(trim(text), '\\s+') contain no ASCII whitespace, so the
    joined string's separators are exactly the inserted single spaces
    and \\S+ runs are exactly the words. Interleaved A/B
    (OPTIMIZATION_r06.md §9, 100k docs): staged+explode best-rep
    0.73 s -> 0.44 s, exact-equal output including order.

    Fallback path, chosen PER ROW only when the words array contains
    an empty entry (possible only for text with leading/trailing
    non-space whitespace — trim strips spaces alone): the r1-r5
    zip_with chain over shifted copies of the array. That chain stays
    alias-inlining-safe exactly as before (``w`` appears a constant
    number of times at top level — the InferFiltersFromGenerate /
    pushdown substitution hazard documented in r1 measured
    explode(shingles) at 22 s when the split landed inside a
    per-element lambda). CaseWhen evaluates only the taken branch, so
    clean rows never pay the chain.

    zip_with pads the shorter (shifted) side with null; concat_ws
    skips nulls, so the trailing entries are short grams that the
    final slice drops. Guarded for docs shorter than k words."""
    n = F.size(w)
    joined = F.array_join(w, " ")
    grams_re = rf"(?:^| )(?=((?:\S+ ){{{k - 1}}}\S+))"
    grams = F.regexp_extract_all(joined, F.lit(grams_re), F.lit(1))
    acc = w
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(w, j + 1, n), lambda a, b: F.concat_ws(" ", a, b)
        )
    mk = F.slice(acc, 1, n - F.lit(k - 1))
    picked = F.when(~F.array_contains(w, F.lit("")), grams).otherwise(mk)
    return F.array_distinct(
        F.when(n >= F.lit(k), picked).otherwise(F.array(joined))
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of a document, as array<string>."""
    return _shingles_from_words(doc_words(text), k)


def _shingled(docs: DataFrame, text_col: str, k: int = 3) -> DataFrame:
    """(doc_id, shingles) with the words array materialized as a real
    projection column first. CRITICAL for performance: composing
    split -> shingle-build -> N hash functions as one nested expression
    lets Catalyst inline the (expensive) child into every consumer
    lambda — the regex split ends up re-evaluated O(k * n_hashes *
    n_shingles) times per row (measured: 825s for 5500 docs). Staged
    projections evaluate each intermediate once per row."""
    d = docs.select(F.col("doc_id"), doc_words(F.col(text_col)).alias("_w"))
    return d.select(
        "doc_id", _shingles_from_words(F.col("_w"), k).alias("shingles")
    )


def exact_dup_clusters(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy on the content hash. Returns one
    row per duplicate cluster: (text_hash, n_docs, keeper) where
    keeper = min(doc_id) — the canonical survivor."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .where(F.col("n_docs") > 1)
    )


def _mh_perm_consts(k: int = MINHASH_K) -> tuple[list[int], list[int]]:
    """Deterministic affine-permutation constants (a_i, b_i), derived
    from md5 so the DuckDB oracle can inline the identical literals."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    a = [h60(f"mh_a#{i}") % (MINHASH_P - 1) + 1 for i in range(k)]
    b = [h60(f"mh_b#{i}") % MINHASH_P for i in range(k)]
    return a, b


def shingle_hashes(shingles: Column) -> Column:
    """Each shingle hashed ONCE: array<long> of md5_int60(s) mod P.
    Stage this as its own projection column (see _shingled) so the k
    permutation lambdas consume a bound column, not k re-evaluations
    of the md5 chain."""
    return F.transform(shingles, lambda s: md5_int60(s) % F.lit(MINHASH_P))


def minhash_signature(hashes: Column, k: int = MINHASH_K) -> Column:
    """MinHash signature over pre-hashed shingles: sig[i] = min over
    h in hashes of (a_i*h + b_i) mod P. Pure integer lambdas — the md5
    work happens once per shingle in shingle_hashes, not k times (the
    interpreted-HOF trap flagged in round 1)."""
    a, b = _mh_perm_consts(k)

    def perm(ai: int, bi: int):
        # closure (not default args): F.transform reads lambda arity
        return lambda h: (
            F.lit(ai).cast("long") * h + F.lit(bi).cast("long")
        ) % F.lit(MINHASH_P)

    return F.array(
        *[F.array_min(F.transform(hashes, perm(a[i], b[i]))) for i in range(k)]
    )


def lsh_band_keys(
    sig: Column, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> Column:
    """Band keys: md5 of each band's `rows` signature values (banded
    so two docs collide iff one full band matches). Returns
    array<struct<band int, key string>> to be exploded. Bands are a
    small compile-time constant, so the loop unrolls into one codegen'd
    array expression."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(sig, b * rows + 1, rows),
                            lambda v: v.cast("string"),
                        ),
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


#: band-bucket population cap for minhash_lsh_pairs — the same guard
#: simhash_pairs (SIMHASH_MAX_BUCKET) and similarity.LSH_MAX_BUCKET
#: already apply: a band bucket of B members contributes B^2/2
#: candidate pairs out of the self-equi-join, so ONE degenerate band
#: key (boilerplate/templated near-dup docs whose band signature
#: collapses — common in web corpora) is quadratic death at 100x
#: scale. Members of a capped bucket usually still pair through their
#: other (bands-1) band keys; a doc-cluster so uniform that EVERY band
#: is hot is exactly the pathological case the cap exists to refuse.
MINHASH_MAX_BUCKET = 4096


def _bucket_pairs(
    banded: DataFrame, elem: Column, max_bucket: int
) -> DataFrame:
    """(band, key) bucketed rows -> in-bucket candidate pairs
    (pa struct, pb struct with pa.doc_id < pb.doc_id) via ONE shuffle.

    Groups each (band, key) bucket, DROPS buckets over ``max_bucket``
    (the hot-bucket guard — one degenerate band key is B^2/2 pairs),
    sorts the in-bucket members (structs sort by doc_id first — the
    deterministic pair orientation), and expands i<j pairs in TWO
    explode stages: first (member, index), then the member's suffix
    slice — so no intermediate row ever holds more than O(B) elements
    (a single flatten-of-nested-transforms materializes the whole
    B^2/2 pair array in ONE row: measured multi-GB task memory on a
    big bucket). Replaces the classic banded SELF-JOIN: that plan
    evaluates the expensive banding subtree once per join side PLUS
    once for the guard, and Catalyst cannot reuse the exchange because
    column pruning diverges the three branches (it ran the signature
    pipeline 3x). Per-bucket state is bounded by max_bucket (<=4096
    members), so collect_list is safe."""
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.collect_list(elem).alias("ms"))
        .where((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
        .select(F.array_sort("ms").alias("ms"))
    )
    lead = buckets.select(
        "ms", F.posexplode(F.col("ms")).alias("_i", "pa")
    )
    return lead.select(
        "pa",
        F.explode(F.expr("slice(ms, _i + 2, size(ms))")).alias("pb"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket: int = MINHASH_MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a < doc_b), distinct.

    Plan shape: project(words) -> project(shingles) -> project(hashes)
    -> project(sig) -> explode(bands) -> ONE (band, key) shuffle ->
    capped in-bucket pair expansion (_bucket_pairs, which is also the
    MINHASH_MAX_BUCKET hot-bucket guard, mirrored in the DuckDB
    oracle) -> distinct. The staged projections keep each intermediate
    evaluated once per row (see _shingled)."""
    shd = _shingled(docs, text_col)
    hs = shd.select("doc_id", shingle_hashes(F.col("shingles")).alias("hs"))
    sig_df = hs.select("doc_id", minhash_signature(F.col("hs"), k).alias("sig"))
    banded = sig_df.select(
        F.col("doc_id"),
        F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    pairs = _bucket_pairs(banded, F.struct(F.col("doc_id")), max_bucket)
    return pairs.select(
        F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
    ).distinct()


def simhash(text: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over distinct word shingles: bit j set iff the sum over
    features of (2*bit_j(h(feature)) - 1) is >= 0. Pure per-row integer
    expression — a map-only stage at ingest scale.

    Shingles (not single words) are the feature set: with a small
    shared vocabulary, word *sets* of unrelated documents overlap
    heavily and word-level simhashes collide pathologically; k-word
    shingles are document-specific, so unrelated docs sit ~bits/2
    hamming apart while near-dups stay within a few bits."""
    w = word_shingles(text)
    hashes = F.transform(w, md5_int60)
    return _simhash_from_hashes(hashes, bits)


def _simhash_from_hashes(hashes: Column, bits: int) -> Column:
    bit_terms = [
        F.when(
            F.aggregate(
                hashes,
                F.lit(0).cast("long"),
                lambda s, h: s
                + (
                    F.shiftright(h, j).bitwiseAND(F.lit(1).cast("long")) * F.lit(2)
                    - F.lit(1)
                ),
            )
            >= 0,
            F.lit(1 << j).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for j in range(bits)
    ]
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out


#: band-bucket population cap for simhash_pairs — same guard as
#: similarity.LSH_MAX_BUCKET: a bucket of B members contributes B^2/2
#: candidate pairs, so one degenerate band key (boilerplate-heavy
#: shard hashing to the same 15-bit band) is quadratic death at scale.
SIMHASH_MAX_BUCKET = 4096


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share at least one
    (bits/bands)-bit band (pigeonhole: hamming <= bands-1 guarantees a
    shared band), verified by bit_count(xor) <= max_hamming.

    Scale note: 60 bits / 4 bands = 15-bit bands -> 32768 buckets per
    band, so candidate sets stay selective well past 10^6 docs (the
    round-1 32-bit/8-bit-band geometry went quadratic at ~10^5). Pairs
    with hamming in (bands-1, max_hamming] are found best-effort via
    band collisions — the standard SimHash-LSH recall trade.

    ``max_bucket`` drops degenerate hot band buckets inside the ONE
    (band, key) shuffle (_bucket_pairs — mirrored in the DuckDB
    oracle, as ann_lsh does); r5 replaced the guarded self-equi-join,
    which evaluated the whole bit-sum subtree once per join side plus
    once for the guard with no exchange reuse. Pair dedup happens on
    the candidate ids BEFORE the hamming verify (a pair sharing
    several bands is verified once), replacing round-2's terminal
    .distinct() that shuffled the full verified pair set."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    # staged: shingles -> hashes -> bit sums (see _shingled for why).
    # The per-row HOF formulation (_simhash_from_hashes) folds the hash
    # array once PER BIT — 60 interpreted passes per document. Here the
    # hashes are exploded once and the 60 per-bit signed sums run as ONE
    # codegen'd hash aggregation (partial agg collapses per task before
    # the doc_id shuffle): one pass over |docs x shingles| rows, all
    # JVM. Docs with zero shingles drop out of the join input exactly
    # as they do in the DuckDB oracle's unnest+GROUP BY.
    hs = _shingled(docs, text_col).select(
        "doc_id", F.transform(F.col("shingles"), md5_int60).alias("hs")
    )
    ex = hs.select("doc_id", F.explode("hs").alias("h"))
    one = F.lit(1).cast("long")
    bitsums = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), j).bitwiseAND(one) * F.lit(2) - F.lit(1)
            ).alias(f"_b{j}")
            for j in range(bits)
        ]
    )
    sh_expr = None
    for j in range(bits):
        term = F.when(F.col(f"_b{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh_expr = term if sh_expr is None else sh_expr + term
    sh = bitsums.select("doc_id", sh_expr.alias("sh"))
    banded = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        _bucket_pairs(
            banded, F.struct(F.col("doc_id"), F.col("sh")), max_bucket
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pa.sh").alias("sh_a"),
            F.col("pb.doc_id").alias("doc_b"),
            F.col("pb.sh").alias("sh_b"),
        )
        # sh_* are functionally dependent on the ids — dedup on ids
        # only, before paying the hamming verify per surviving pair
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


DEFAULT_MAX_DF = 20


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_jaccard: float = 0.6,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a true inverted index.

    jaccard = shared / (nA + nB - shared), computed from exact integer
    shingle counts -> deterministic double, quantized to jac_q for
    cross-engine comparison.

    Plan shape (ONE pass over the shingles): explode ->
    groupBy(shingle) collecting the posting list -> df filter ->
    { per-doc sizes by re-exploding postings ; candidate pairs by
    expanding each posting list's a<b combinations in-row }. The
    expensive shingle projection feeds exactly one exchange (reused by
    both consumers); round 1's formulation re-derived the exploded
    shingle table four times through a self-join. ``max_df`` (ON by
    default) caps posting-list length, bounding the in-row pair
    expansion at df^2 and keeping a single stop-shingle from going
    quadratic; sizes are computed AFTER the filter, so jaccard is over
    the filtered shingle sets in both engines."""
    if max_df is None:
        # the in-row pair expansion is bounded by max_df^2; without the
        # guard one hot stop-shingle materializes |df|^2 structs inside
        # a single row (executor OOM, not a graceful spill) — refuse
        # loudly rather than degrade at 10^9 docs
        raise ValueError(
            "ngram_jaccard_pairs requires max_df (the hot-shingle guard); "
            f"the default is {DEFAULT_MAX_DF}"
        )
    sh = _shingled(docs, text_col, k).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    # the df guard must run BEFORE collect_list: a count aggregation is
    # constant-memory per group (partial agg), while collect_list of a
    # hot shingle's 10^7 doc ids would OOM inside one group before any
    # size() filter could evaluate. Both branches shuffle `sh` by
    # shingle with identical subtrees, so ReuseExchange computes the
    # shingle projection once.
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    posts = (
        sh.join(keep, "shingle")
        .groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("docs"))
    )
    sizes = (
        posts.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )

    def pair_with(i: Column):
        # normalized (least, greatest): collect_list order is arbitrary,
        # pair identity must not depend on it
        x = F.element_at(F.col("docs"), i)
        return lambda y: F.struct(
            F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
        )

    # only the upper triangle is materialized (i < j positions), so the
    # in-row allocation is df*(df-1)/2 structs, not df^2 then filter.
    # greatest(n-1, 1): Spark's sequence(1, 0) would be the DESCENDING
    # [1, 0]; with the clamp a df=1 posting yields i=1 whose slice is
    # empty -> zero pairs, and the element_at(docs, i) inside the inner
    # lambda is never evaluated
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("docs") - 1, F.lit(1))),
            lambda i: F.transform(
                F.slice(F.col("docs"), i + F.lit(1), F.size("docs")),
                pair_with(i),
            ),
        )
    )
    shared = (
        posts.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jac_q",
            F.floor(
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double")
                * F.lit(1_000_000)
            ).cast("long"),
        )
    )
    return jac.where(F.col("jac_q") >= int(min_jaccard * 1_000_000)).select(
        "doc_a", "doc_b", "shared", "jac_q"
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """D6: resolve candidate near-dup PAIRS into duplicate CLUSTERS —
    the step a real dedup pipeline runs after any of the pair
    generators above, so "keep one doc per cluster" is well-defined
    even when A~B and B~C but A!~C.

    Min-label propagation to fixpoint: every node repeatedly adopts
    the smallest label among itself and its neighbors; at convergence
    label == min node id of the component (the canonical keeper
    election). Each round is one equi-join + one partial-agg-collapsed
    groupBy — the DataFrame-native form of the MapReduce CC iteration.
    Rounds needed = graph diameter; near-dup clusters are shallow
    (pairs all share bands), so this converges in 2-3 rounds here. At
    adversarial diameters use the O(log n)-round large-star/small-star
    variant — identical per-round plan shape, different edge rewrite.

    Iterative-plan hygiene: each round's result is localCheckpoint'ed
    (lazy) — without truncation the lineage doubles per round and
    Catalyst analysis goes quadratic. The convergence probe rides the
    SAME aggregation: the old label is threaded through the groupBy
    (min over the tagged self-row), so one job both materializes the
    checkpoint and returns the changed-row count — no per-round
    probe join, one action per round instead of two (r6)."""
    bidir = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .persist()
    )
    labels = (
        bidir.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = bidir.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label", F.lit(False).alias("own"))
        new = (
            labels.select("node", "label", F.lit(True).alias("own"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                # exactly one own-row per node -> min(when) = old label
                F.min(F.when(F.col("own"), F.col("label"))).alias("_old"),
            )
            .withColumn(
                "_chg", (F.col("label") < F.col("_old")).cast("long")
            )
            .localCheckpoint(eager=False)
        )
        changed = new.agg(F.sum("_chg")).first()[0] or 0
        labels = new.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    bidir.unpersist()
    return labels.select("node", F.col("label").alias("cluster"))


# Crossover default for connected_components_auto, set from
# scripts/cc_crossover_bench.py (run it to print the timing table):
# per-round cost of the two algorithms is within ~1.3x of each other
# on shallow graphs, so propagation only wins while it converges in
# few rounds; on a 4096-node chain fixpoint needs diameter rounds
# (~minutes) while two-star closes in ~10. Probing PROBE_ROUNDS
# propagation rounds costs at most ~PROBE_ROUNDS extra round-times
# before switching, and near-dup graphs (diameter 2-3) converge well
# inside it.
CC_PROBE_ROUNDS = 4


def connected_components_auto(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    probe_rounds: int = CC_PROBE_ROUNDS,
    max_iter: int = 30,
) -> DataFrame:
    """D6 default policy: diameter is unknowable a priori, so probe
    with min-label propagation (cheapest per round on the shallow
    graphs near-dup dedup actually produces) for ``probe_rounds``
    rounds; if unconverged, CONTRACT the graph by the partial labels
    (edge {u,v} -> {label(u), label(v)}, a component-preserving
    quotient) and finish with O(log n) two-star on the much smaller
    contracted edge set, composing the labelings. Worst case pays
    probe_rounds propagation rounds extra; adversarial-diameter
    graphs still finish in O(log n) total rounds, and shallow graphs
    never pay two-star's constant factor. Property-tested equal to
    both base variants (tests/test_pipeline.py)."""
    bidir = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .persist()
    )
    labels = (
        bidir.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(probe_rounds):
        nbr = bidir.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label", F.lit(False).alias("own"))
        new = (
            labels.select("node", "label", F.lit(True).alias("own"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("own"), F.col("label"))).alias("_old"),
            )
            .withColumn(
                "_chg", (F.col("label") < F.col("_old")).cast("long")
            )
            .localCheckpoint(eager=False)
        )
        changed = new.agg(F.sum("_chg")).first()[0] or 0
        labels = new.select("node", "label")
        if changed == 0:
            converged = True
            break
    if converged:
        bidir.unpersist()
        return labels.select("node", F.col("label").alias("cluster"))
    # quotient graph: one node per current label, edges between the
    # labels of each original edge's endpoints (self-loops drop)
    lu = labels.withColumnRenamed("node", "u").withColumnRenamed(
        "label", "lu"
    )
    lv = labels.withColumnRenamed("node", "v").withColumnRenamed(
        "label", "lv"
    )
    contracted = (
        bidir.join(lu, "u")
        .join(lv, "v")
        .where(F.col("lu") != F.col("lv"))
        .select(F.col("lu").alias("doc_a"), F.col("lv").alias("doc_b"))
    )
    bidir.unpersist()
    meta = connected_components_twostar(contracted, max_iter=max_iter)
    # compose: node -> probe label -> contracted-component min. Labels
    # that were already component minima (not present in the quotient's
    # node set) keep themselves.
    return (
        labels.join(
            meta.withColumnRenamed("node", "label"), "label", "left"
        )
        .select(
            "node",
            F.coalesce(F.col("cluster"), F.col("label")).alias("cluster"),
        )
    )


def connected_components_twostar(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """D6 scale variant: alternating large-star / small-star connected
    components (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds on ANY graph, where plain min-label
    propagation (connected_components) needs diameter rounds and a
    10^6-node chain would take 10^6 of them.

    Per round, for each node u with m(u) = min(N(u) ∪ {u}):
      large-star: rewire every LARGER neighbor v > u to (v, m(u));
      small-star: rewire every v ≤ u in N(u), plus u itself, to m(u).
    Both are one groupBy(min) + one join over the bidirected edge
    list — the same shuffle shape as a propagation round — and the
    edge set contracts toward stars rooted at component minima.
    Convergence = edge set unchanged over a full LS+SS pair, detected
    with an order-invariant (count, two independently-salted
    sum-of-xxhash64) checksum — one tiny action per pair, no full-set
    comparison join. The check is PROBABILISTIC (a false stop needs
    two simultaneous 64-bit hash-sum collisions at equal edge count,
    ~2^-120); callers needing a deterministic fixpoint should use
    connected_components, whose per-round delta count is exact.

    Property-tested equal to connected_components on random graphs
    (tests/test_pipeline.py::test_twostar_matches_fixpoint)."""
    cur = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        # lazy: the checksum action below materializes (and truncates)
        # it — one job per round-trip instead of a separate eager job
        # per checkpoint (r6; same trick in the LS/SS loop)
        .localCheckpoint(eager=False)
    )

    def _bi(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def _mins(b: DataFrame) -> DataFrame:
        return b.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    def _canon(e: DataFrame) -> DataFrame:
        return (
            e.where(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            .distinct()
        )

    def _checksum(e: DataFrame) -> tuple:
        # Order-invariant edge-set fingerprint. NOTE: this makes the
        # fixpoint test probabilistic — two DIFFERENT edge sets with
        # equal count AND equal hash-sums would terminate the loop
        # early with wrong clusters. Two independently-salted xxhash64
        # sums are kept so a false stop needs two simultaneous 64-bit
        # coincidences (~2^-120 with the count); pmod keeps each summed
        # term < 1e9 so the sums can't overflow long under ANSI mode.
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(1_000_000_007))),
                F.lit(0),
            ).alias("h"),
            F.coalesce(
                F.sum(
                    F.pmod(
                        F.xxhash64(F.lit("cc-salt-2"), "a", "b"),
                        F.lit(998_244_353),
                    )
                ),
                F.lit(0),
            ).alias("h2"),
        ).collect()[0]
        return (row.n, row.h, row.h2)

    sig = _checksum(cur)
    for _ in range(max_iter):
        # large-star: every node u rewires its LARGER neighbors to
        # m(u) = min(N(u) ∪ {u}); the output REPLACES the edge set —
        # each undirected edge {x,y}, x<y, survives as (y, m(x)).
        b = _bi(cur)
        large = (
            b.where(F.col("v") > F.col("u"))
            .join(_mins(b), "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        cur = _canon(large).localCheckpoint(eager=False)

        # small-star: every node u rewires its SMALLER neighborhood
        # N⁻(u) (and itself) to min(N⁻(u) ∪ {u}) — which is just
        # min(N⁻(u)), every member being < u.
        sm = _bi(cur).where(F.col("v") < F.col("u"))
        mins_small = sm.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            sm.join(mins_small, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(
                mins_small.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        )
        cur = _canon(small).localCheckpoint(eager=False)

        new_sig = _checksum(cur)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_twostar: no fixpoint in {max_iter} rounds"
        )
    # Converged star graph: each non-root node carries exactly the
    # edge (node, component-min); the root's own label is itself.
    return (
        _bi(cur)
        .groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("cluster"))
        .select(F.col("u").alias("node"), "cluster")
    )


def cluster_summary(labels: DataFrame) -> DataFrame:
    """Per-cluster membership summary: size + member-id checksum
    (driver-hashable proof of the exact membership sets)."""
    return labels.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.sum("node").alias("member_sum"),
    )


def with_planted_dupes(
    docs: DataFrame,
    text_col: str = "text",
    every: int = 10,
    id_offset: int = 10_000_000,
    mutate: bool = True,
) -> DataFrame:
    """Deterministic duplicate planting for demos/tests: every
    ``every``-th doc gets a copy (doc_id + id_offset); with
    ``mutate=True`` the copy drops its last word (near-dup, Jaccard
    ~ (n-k)/n — above any LSH threshold), otherwise it is byte-exact.
    Mirrored exactly by the DuckDB oracles."""
    mutated = docs.where(F.col("doc_id") % every == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(id_offset)
    )
    if mutate:
        w = doc_words(F.col(text_col))
        mutated = mutated.withColumn(
            text_col,
            F.array_join(F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(1))), " "),
        )
    return docs.unionByName(mutated)


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination — the pass every training corpus runs
    before release: flag training documents that share any k-word
    shingle with a held-out evaluation set, with the count of distinct
    shared shingles as the contamination score.

    Scale shape: the eval side is tiny relative to a 100 TB corpus, so
    its distinct shingle set is BROADCAST — the corpus never shuffles
    for the join; each scan task probes the in-memory shingle set and
    only matching (doc_id, shingle) rows reach the final per-doc
    aggregation (map-side combined, keyed by doc_id). Shingles are
    per-doc distinct already (_shingled), so count(*) after the join
    IS the distinct-shared count.
    """
    tr = _shingled(train, text_col, k)
    ev = (
        _shingled(eval_docs, text_col, k)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    tr_e = tr.select(
        "doc_id",
        F.size("shingles").cast("long").alias("n_shingles"),
        F.explode("shingles").alias("shingle"),
    )
    hits = tr_e.join(F.broadcast(ev), "shingle").groupBy("doc_id").agg(
        F.min("n_shingles").alias("n_shingles"),
        F.count("*").alias("n_shared"),
    )
    return hits.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        F.expr("n_shared * 1000000 DIV n_shingles").alias("share_ppm"),
    )
