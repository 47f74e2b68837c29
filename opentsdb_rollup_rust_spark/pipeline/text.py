"""Text analysis operators: tokenization, language-ID, quality
scoring, rolling-hash fingerprints.

All built-in expressions (whole-stage codegen, zero Python). Each
operator is a narrow per-row map — no shuffle — so at 100 TB these
run at scan speed and pipeline into whatever aggregation follows.

Determinism: word hashes are md5-derived (cross-engine reproducible,
see functions.hashing.md5_int60); ratios are doubles derived from
exact integer counts, so DuckDB oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int60

# Tiny per-language stopword tables for the n-gram/stopword heuristic.
# Real deployments swap in bigger tables; the *shape* (broadcastable
# lookup folded into a literal array) is the scale-relevant part.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "is", "and", "to", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "un"),
    "es": ("el", "los", "las", "una", "por", "que"),
}

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 131


def doc_words(text: Column | str) -> Column:
    """Whitespace tokenization -> array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


# GPT-2-style pre-tokenizer piece pattern, simplified to drop the
# lookaheads (ordered alternation is leftmost-first in BOTH Java regex
# (Spark) and RE2 (DuckDB), so counts match cross-engine exactly):
# contraction suffixes, space-prefixed letter runs, digit runs,
# punctuation runs, residual whitespace.
BPE_PIECE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s']+|\s+"


def token_counts(text: Column | str, words: Column | None = None) -> dict[str, Column]:
    """Token-counting suite: whitespace tokens, wordish tokens
    (``[a-z0-9]+`` pieces), GPT-2-ish pre-tokenizer pieces (the
    training-data "token budget" proxy), and characters. All exact
    longs.

    ``words``: optionally pass an already-staged words column (see
    _shingled's staged-projection rationale) so composed profiles pay
    the regex split once per row instead of once per consumer.
    regexp_count (r6) counts matches without materializing the match
    array regexp_extract_all allocated — same non-overlapping Java
    regex iteration, same counts."""
    c = F.col(text) if isinstance(text, str) else text
    w = doc_words(c) if words is None else words
    return {
        "n_ws_tokens": F.size(w).cast("long"),
        "n_word_tokens": F.regexp_count(c, F.lit("[a-z0-9]+")).cast("long"),
        "n_bpe_tokens": F.regexp_count(c, F.lit(BPE_PIECE_RE)).cast("long"),
        "n_chars": F.length(c).cast("long"),
    }


def stopword_hits(words: Column, lang: str = "en") -> Column:
    """Stopword hit count of ``lang`` over a words array, as long."""
    stops = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
    return F.size(F.filter(words, lambda x: F.array_contains(stops, x))).cast(
        "long"
    )


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``.
    Integer hit count / integer token count -> deterministic double."""
    w = doc_words(text)
    return stopword_hits(w, lang).cast("double") / F.size(w).cast("double")


def lang_scores(
    text: Column | str, words: Column | None = None
) -> dict[str, Column]:
    """Per-language stopword-hit counts (the n-gram-heuristic core).
    Pass a staged ``words`` column so the four per-language filter
    passes share one split (see token_counts)."""
    w = doc_words(text) if words is None else words
    return {lang: stopword_hits(w, lang) for lang in LANG_STOPWORDS}


def lang_pred_from_scores(
    scores: dict[str, Column], min_hits: int = 1
) -> Column:
    """Argmax of per-language score COLUMNS, ties broken by fixed
    language order; 'und' when no language reaches min_hits. The
    comparison chain references each score several times, so feed it
    STAGED columns (cheap attribute refs) — handing it the raw
    filter-over-split expressions re-evaluates each one per reference
    (the r1-r5 lang_id shape: ~16 interpreted filter passes per row,
    measured 2.98 s vs 1.5 s staged for text_langid at sf1.0)."""
    langs = list(LANG_STOPWORDS)
    expr_best = F.lit("und")
    for lang in reversed(langs):
        cond = scores[lang] >= F.greatest(
            *[scores[o] for o in langs if o != lang], F.lit(min_hits).cast("long")
        )
        # tie-break: an earlier language with an equal score overrides
        expr_best = F.when(cond, F.lit(lang)).otherwise(expr_best)
    return expr_best


def lang_id(text: Column | str, min_hits: int = 1) -> Column:
    """Predicted language = argmax of lang_scores, ties broken by
    fixed language order; 'und' when no language reaches min_hits.
    Convenience single-Column form; hot paths stage the scores first
    and call lang_pred_from_scores (see its docstring)."""
    return lang_pred_from_scores(lang_scores(text), min_hits)


def quality_from_parts(
    n_chars: Column,
    n_words: Column,
    n_punct: Column,
    word_chars: Column,
    stop_hits: Column,
) -> dict[str, Column]:
    """quality_features' closed-form tail over STAGED integer part
    columns — exactly the same arithmetic, but every part is a cheap
    attribute ref, so nothing re-evaluates however many outputs
    reference it (stop_r alone appears in two outputs)."""
    stop_r = stop_hits.cast("double") / n_words.cast("double")
    punct_r = n_punct.cast("double") / n_chars.cast("double")
    mean_wl = word_chars.cast("double") / n_words.cast("double")
    score = (
        F.lit(0.4) * stop_r
        + F.lit(0.3) * F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_r)
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_punct": n_punct,
        "mean_word_len_q": F.floor(mean_wl * F.lit(1_000_000)).cast("long"),
        "stop_ratio_q": F.floor(stop_r * F.lit(1_000_000)).cast("long"),
        "quality_q": F.floor(score * F.lit(1_000_000)).cast("long"),
    }


def quality_parts(
    text: Column | str, words: Column | None = None
) -> dict[str, Column]:
    """The integer part columns quality_from_parts consumes, from text
    (+ an optionally staged words array)."""
    c = F.col(text) if isinstance(text, str) else text
    w = doc_words(c) if words is None else words
    return {
        "n_chars": F.length(c).cast("long"),
        "n_words": F.size(w).cast("long"),
        "n_punct": F.length(F.regexp_replace(c, "[^.,!?;:]", "")).cast("long"),
        "word_chars": F.length(F.regexp_replace(c, r"\s", "")).cast("long"),
        "stop_hits": stopword_hits(w, "en"),
    }


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring components (all from exact integers):
    length, word count, mean word length, punctuation ratio,
    stopword ratio. ``quality_q`` is the composite, quantized to 1e-6
    integer units so cross-engine comparison is exact. Convenience
    unstaged form; hot paths stage quality_parts first and finish with
    quality_from_parts."""
    return quality_from_parts(**quality_parts(text))


def rolling_fingerprint(
    text: Column | str, words: Column | None = None
) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over word hashes, acc' = (acc*131 + h(word)) mod 1e9+7.

    h(word) = md5_int60(word) mod 1e9+7 keeps every intermediate
    product < 2^38 — exact under ANSI mode, reproducible in DuckDB via
    list_reduce. Sequential per row (F.aggregate is a left fold), but
    embarrassingly parallel across rows — scan-speed at 100 TB."""
    w = doc_words(text) if words is None else words
    m = F.lit(FINGERPRINT_MOD)
    return F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(FINGERPRINT_BASE) + F.pmod(md5_int60(x), m), m),
    )


def bag_fingerprint(
    text: Column | str, words: Column | None = None
) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted
    distinct word set — the exact-dedup key for shuffled/reflowed
    copies of the same content."""
    w = F.array_sort(
        F.array_distinct(doc_words(text) if words is None else words)
    )
    return F.md5(F.array_join(w, " "))


def repetition_profile(docs: "DataFrame", text_col: str = "text") -> "DataFrame":
    """T7: Gopher-style repetition signals — the quality filters that
    catch boilerplate and degenerate generations: duplicate-word
    fraction, duplicate-2gram fraction, and the fraction of all 2-gram
    occurrences taken by the single most frequent 2-gram. All three
    are exact-integer ppm (``x * 1e6 DIV total``) so the DuckDB oracle
    matches bit-for-bit.

    Scale shape (r6): ENTIRELY per-row — no shuffle at all. The 2-gram
    mode statistics (distinct grams, top gram frequency) come from a
    single pass over the SORTED gram array: equal grams are adjacent
    after array_sort, so the run-start positions (filter over an index
    sequence) give the distinct count and, via consecutive-start gaps,
    the longest run in O(L log L) per document. The r5 implementation
    exploded every gram into a (doc_id, gram) partial-agg + per-doc
    rollup — two shuffles of |total grams| rows (6.5 s at sf1.0 vs
    1.3 s per-row; and at 100 TB the explode writes the whole corpus'
    grams to shuffle disk, while the in-row fold is scan-speed —
    a book-length 10^6-word doc costs a 2e7-op sort, far below the
    cost of shuffling its 10^6 exploded gram rows). The fold
    accumulator carries (position, current run length, max run,
    distinct count); the r1-flagged O(L^2) per-row trap was a
    COUNT-PER-GRAM rescan, which the sorted-runs fold is not.
    Documents with fewer than two words have no 2-grams and drop out
    (mirrored in the oracle's ``len(w) >= 2`` filter)."""
    staged = docs.select(
        "doc_id", doc_words(F.col(text_col)).alias("_w")
    )
    w = F.col("_w")
    tail = F.size(w) - F.lit(1)
    grams = F.zip_with(
        F.slice(w, 1, tail),
        F.slice(w, 2, tail),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = staged.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.size(F.array_distinct(w)).cast("long").alias("d_words"),
        F.array_sort(grams).alias("sg"),
    ).where(F.col("n_words") >= 2)
    # run statistics from the run-START positions instead of a struct
    # fold (r6): in the sorted array, position i (1-based) starts a
    # run iff i == 1 or sg[i] != sg[i-1]; the lookback uses the
    # 0-based F.get, which is NULL out of range, so the plan holds no
    # index-0 element_at whatever the evaluation order. distinct grams
    # = number of run starts; the longest run = the largest gap between
    # consecutive starts (with a sentinel n+1 closing the last run).
    # Same O(L) array accesses as the old fold but no per-element
    # struct allocation (best-rep 1.06 s -> 0.67 s on 100k docs,
    # interleaved, OPTIMIZATION_r06.md §10; exact-equal output).
    sg = F.col("sg")
    n2 = F.size(sg)
    starts = F.filter(
        F.sequence(F.lit(1), n2),
        lambda i: (i == F.lit(1))
        | (F.get(sg, i - F.lit(2)) != F.get(sg, i - F.lit(1))),
    )
    d2 = F.size(starts)
    run_ends = F.concat(
        F.slice(starts, 2, d2 - F.lit(1)), F.array(n2 + F.lit(1))
    )
    top_cnt = F.array_max(F.zip_with(run_ends, starts, lambda a, b: a - b))
    agg = base.select(
        "doc_id",
        "n_words",
        "d_words",
        n2.cast("long").alias("n_2grams"),
        d2.cast("long").alias("d_2grams"),
        top_cnt.cast("long").alias("top_cnt"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        F.expr("(n_words - d_words) * 1000000 DIV n_words").alias(
            "dup_word_ppm"
        ),
        "n_2grams",
        F.expr("(n_2grams - d_2grams) * 1000000 DIV n_2grams").alias(
            "dup_2gram_ppm"
        ),
        F.expr("top_cnt * 1000000 DIV n_2grams").alias("top_2gram_ppm"),
    )


# PII patterns kept to plain character classes + bounded repeats so
# Java regex (Spark) and RE2 (DuckDB) match the identical spans —
# no lookarounds, no backrefs, no alternation-order subtleties.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]", "<EMAIL>"),
    ("ip", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9][0-9-]{5,}[0-9]", "<PHONE>"),
)


def pii_scrub(text: Column | str) -> dict[str, Column]:
    """T6: PII redaction — the standard scrubbing pass a training-data
    pipeline runs before packing: emails / IPv4s / phone numbers are
    replaced with typed placeholder tags, and per-document match
    counts are kept for lineage ("how much was redacted where").

    Counts are taken on the ORIGINAL text per pattern (so one
    pattern's replacement can never hide another's count); the scrub
    itself applies patterns in declaration order on the running
    result. Pure codegen'd expressions (regexp_count /
    regexp_replace) — per-row map, no shuffle, scan-speed at 100 TB.
    """
    c = F.col(text) if isinstance(text, str) else text
    out: dict[str, Column] = {}
    scrubbed = c
    for name, pat, tag in PII_PATTERNS:
        out[f"n_{name}"] = F.regexp_count(c, F.lit(pat)).cast("long")
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    out["scrubbed"] = scrubbed
    return out


def text_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document profile: token counts + language +
    quality + fingerprints. Pure projection — no shuffle. Staged
    (r6): the words array is split once per row, every integer part
    and language score lands as its own column, and the final
    projection does only cheap arithmetic over attribute refs (the
    unstaged form re-ran the split/filters once per consumer)."""
    c = F.col(text_col)
    staged = docs.select(
        "*", doc_words(c).alias("_w")
    )
    w = F.col("_w")
    tc = token_counts(c, words=w)
    qp = quality_parts(c, words=w)
    sc = lang_scores(c, words=w)
    parts = staged.select(
        "doc_id",
        tc["n_ws_tokens"].alias("n_ws_tokens"),
        tc["n_word_tokens"].alias("n_word_tokens"),
        qp["n_chars"].alias("_n_chars"),
        qp["n_words"].alias("_n_words"),
        qp["n_punct"].alias("n_punct"),
        qp["word_chars"].alias("_word_chars"),
        qp["stop_hits"].alias("_stop_hits"),
        *[sc[lang].alias(f"_s_{lang}") for lang in LANG_STOPWORDS],
        rolling_fingerprint(c, words=w).alias("fingerprint"),
        bag_fingerprint(c, words=w).alias("bag_fp"),
    )
    qf = quality_from_parts(
        F.col("_n_chars"),
        F.col("_n_words"),
        F.col("n_punct"),
        F.col("_word_chars"),
        F.col("_stop_hits"),
    )
    return parts.select(
        "doc_id",
        "n_ws_tokens",
        "n_word_tokens",
        "n_punct",
        qf["mean_word_len_q"].alias("mean_word_len_q"),
        qf["stop_ratio_q"].alias("stop_ratio_q"),
        qf["quality_q"].alias("quality_q"),
        lang_pred_from_scores(
            {lang: F.col(f"_s_{lang}") for lang in LANG_STOPWORDS}
        ).alias("pred_lang"),
        "fingerprint",
        "bag_fp",
    )
