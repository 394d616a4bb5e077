"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting (SURVEY.md §7 phase 7).

Everything is built-in-expression-only (no UDFs) and reproducible in an
external SQL engine, so every operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.keys import java_hash
from . import pinning
from .dedup import adjacent_pairs, tokens

#: Tiny stopword profiles for the n-gram/stopword language heuristic.
#: Deliberately small and fixed: the point is deterministic, scalable
#: scoring, not linguistic accuracy.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"),
}

#: BPE-ish token pattern: word pieces, digits, or single punctuation.
TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def lang_scores(text_col: Column | str) -> Column:
    """Map of language → stopword-hit fraction of tokens."""
    toks = tokens(text_col)
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    entries = [
        F.struct(
            F.lit(lang).alias("key"),
            (_count_in(toks, sw).cast("double") / n).alias("value"),
        )
        for lang, sw in LANG_PROFILES.items()
    ]
    return F.map_from_entries(F.array(*entries))


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in a fixed word set.  ``Column.isin`` is not
    supported on lambda variables, so membership is array_contains
    against a literal array."""
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordset, t)))


def identify_language(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, predicted_lang, lang_score): argmax over the profile scores,
    ties broken by language code so the result is total-ordered."""
    scores = [
        (lang, F.col("scores").getItem(lang)) for lang in sorted(LANG_PROFILES)
    ]
    best = scores[0][1]
    best_lang = F.lit(scores[0][0])
    for lang, s in scores[1:]:
        is_better = s > best
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best = F.when(is_better, s).otherwise(best)
    return (
        df.select(
            F.col(id_col).cast("bigint").alias("id"),
            lang_scores(text_col).alias("scores"),
        )
        .select(
            "id",
            best_lang.alias("predicted_lang"),
            F.round(best, 6).alias("lang_score"),
        )
    )


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality features + composite score:
    n_chars, n_tokens, mean_token_len, punct_ratio, stopword_ratio,
    quality_score.  All arithmetic in deterministic double ops."""
    toks = tokens(text_col)
    text = F.col(text_col)
    n_chars = F.length(text).cast("bigint")
    n_tokens = F.size(toks).cast("bigint")
    safe_tokens = F.greatest(F.size(toks), F.lit(1)).cast("double")
    safe_chars = F.greatest(F.length(text), F.lit(1)).cast("double")
    # sum(len(token)) without the interpreted per-token fold: tokens are
    # exactly the single-space-joined pieces of the normalized text, so
    # total token chars = len(normalized) − (n_tokens − 1) separators —
    # identical integer, pure codegen arithmetic
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    tok_chars = F.when(
        n_tokens > 0, F.length(norm).cast("bigint") - (n_tokens - F.lit(1))
    ).otherwise(F.lit(0).cast("bigint"))
    mean_token_len = tok_chars.cast("double") / safe_tokens
    punct = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double")
    punct_ratio = punct / safe_chars
    en_sw = LANG_PROFILES["en"]
    stop_ratio = _count_in(toks, en_sw).cast("double") / safe_tokens
    # monotone, bounded composite: favors mid-length docs with some
    # stopword mass and little punctuation noise
    score = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.2
    )
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(mean_token_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


#: The eight "required" stop words of the Gopher quality rules (Rae et
#: al. 2021 §A1.1): a document must contain at least two DISTINCT
#: members to pass.  Separate from LANG_PROFILES — this is the paper's
#: published set, not the language-ID heuristic's.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

#: Bullet glyphs for the bullet-line rule; trimmed-line PREFIX match.
_BULLET_RE = "^[•‣▪*-]"
#: ASCII three-dot or U+2026 ellipsis — the bare alternation counts
#: occurrences anywhere (the symbol ratio); anchored, it matches a
#: trimmed line's SUFFIX (the ellipsis-line rule).
_ELLIPSIS_ALT = "\\.\\.\\.|…"
_ELLIPSIS_RE = f"({_ELLIPSIS_ALT})$"


def gopher_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The non-repetition half of the Gopher quality filter (Rae et al.
    2021 §A1.1, Table A1 defaults) — the repetition half lives in
    :func:`repetition_features` / :func:`ngram_repetition_battery` and
    ``lines.line_repetition_features``.  Per document:

    - ``n_words`` / ``mean_word_len`` with the published [50, 100k] and
      [3, 10] keep bounds (words = lower-cased whitespace tokens, the
      module-wide tokenizer);
    - ``hash_word_ratio`` / ``ellipsis_word_ratio``: ``#`` occurrences
      per word and ellipsis (``...`` or U+2026) occurrences per word,
      EACH kept ≤ 0.1 separately — the published rule thresholds each
      symbol's ratio independently (Rae et al. 2021 Table A1), so a
      document with 0.07 of each passes; the pooled sum (the pre-r13
      shape) was strictly stricter than the paper;
    - ``bullet_line_frac`` / ``ellipsis_line_frac``: fraction of
      non-blank lines starting with a bullet glyph (keep ≤ 0.9) /
      ending in an ellipsis (keep ≤ 0.3);
    - ``alpha_word_frac``: fraction of words containing an ASCII letter
      (post-lowercase, the documented operational proxy for the paper's
      "alphabetic character"), keep ≥ 0.8;
    - ``n_stop_hits``: DISTINCT members of :data:`GOPHER_STOPWORDS`
      present, keep ≥ 2;
    - ``keep``: int 0/1 conjunction of all eight bounds, evaluated on
      the 6-decimal ROUNDED fractions the row itself carries, so an
      external replay of the row reproduces the verdict bit-for-bit.

    Scale shape: ZERO shuffles — one tokenize, two line/word filter
    HOFs and three regexp counts fused into the scan; like
    :func:`quality_features` the whole battery is a map-side projection
    at any corpus size.
    """
    toked = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(text_col).alias("_t"),
        tokens(text_col).alias("_w"),
    )
    text, w = F.col("_t"), F.col("_w")
    n_words = F.size(w).cast("bigint")
    safe_words = F.greatest(F.size(w), F.lit(1)).cast("double")
    # total word chars without a per-token fold: the tokens are the
    # single-space-joined pieces of the normalized text (the
    # quality_features identity)
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    word_chars = F.when(
        F.size(w) > 0, F.length(norm).cast("bigint") - (F.size(w) - F.lit(1))
    ).otherwise(F.lit(0).cast("bigint"))
    mean_word_len = word_chars.cast("double") / safe_words
    n_hash = F.regexp_count(text, F.lit("#")).cast("double")
    n_ell_occ = F.regexp_count(text, F.lit(_ELLIPSIS_ALT)).cast("double")
    lines = F.filter(
        F.split(text, "\n", -1), lambda l: F.trim(l) != F.lit("")
    )
    n_lines = F.size(lines)
    safe_lines = F.greatest(n_lines, F.lit(1)).cast("double")
    n_bullet = F.size(F.filter(lines, lambda l: F.trim(l).rlike(_BULLET_RE)))
    n_ellipsis = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(_ELLIPSIS_RE))
    )
    n_alpha = F.size(F.filter(w, lambda t: t.rlike("[a-z]")))
    stopset = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(stopset, lambda s: F.array_contains(w, s)))
    sig = toked.select(
        "id",
        n_words.alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(n_hash / safe_words, 6).alias("hash_word_ratio"),
        F.round(n_ell_occ / safe_words, 6).alias("ellipsis_word_ratio"),
        F.round(n_bullet.cast("double") / safe_lines, 6).alias(
            "bullet_line_frac"
        ),
        F.round(n_ellipsis.cast("double") / safe_lines, 6).alias(
            "ellipsis_line_frac"
        ),
        F.round(n_alpha.cast("double") / safe_words, 6).alias(
            "alpha_word_frac"
        ),
        n_stop.cast("bigint").alias("n_stop_hits"),
    )
    keep = (
        (F.col("n_words") >= int(min_words))
        & (F.col("n_words") <= int(max_words))
        & (F.col("mean_word_len") >= float(min_mean_word_len))
        & (F.col("mean_word_len") <= float(max_mean_word_len))
        & (F.col("hash_word_ratio") <= float(max_symbol_word_ratio))
        & (F.col("ellipsis_word_ratio") <= float(max_symbol_word_ratio))
        & (F.col("bullet_line_frac") <= float(max_bullet_line_frac))
        & (F.col("ellipsis_line_frac") <= float(max_ellipsis_line_frac))
        & (F.col("alpha_word_frac") >= float(min_alpha_word_frac))
        & (F.col("n_stop_hits") >= int(min_stop_hits))
    )
    return sig.select("*", keep.cast("int").alias("keep"))


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, ws_tokens, bpe_tokens): whitespace token count and a BPE-ish
    regex token count (word pieces / digits / punctuation)."""
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.size(tokens(text_col)).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_RE)).cast("bigint").alias(
            "bpe_tokens"
        ),
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher-style within-document repetition signals over word
    ``n``-grams: the curation filter that catches boilerplate and
    degenerate loops exact-dedup never sees.

    Returns (id, n_grams, dup_ngram_frac, top_ngram_frac) where
    ``dup_ngram_frac`` = 1 − |distinct grams| / |grams| (mass of repeated
    n-gram occurrences) and ``top_ngram_frac`` = occurrences of the most
    frequent n-gram / |grams|.  Documents with fewer than ``n`` tokens
    have no n-grams and score 0.0 on both.

    The per-document mode runs DISTRIBUTED — explode → count per
    (id, gram) → per-id aggregate — two shuffles on (id[, gram]), no
    per-row map-side frequency tables, so a single pathological
    100M-gram document costs its share of a shuffle rather than one
    task's memory.

    The token array is hoisted into its own projection before the
    per-position lambda references it — inlining ``tokens(text)`` into
    the ``slice`` lambda re-tokenizes the document at every gram
    position, O(tokens²) per doc (the round-12 battery hoist,
    :func:`ngram_repetition_battery`)."""
    toked = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        tokens(text_col).alias("_toks"),
    )
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ids = toked.select("id", grams.alias("grams"))
    per_gram = (
        ids.select("id", F.explode("grams").alias("gram"))
        .groupBy("id", "gram")
        .agg(F.count("*").alias("occ"))
    )
    per_doc = per_gram.groupBy("id").agg(
        F.sum("occ").cast("bigint").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("occ").alias("top_occ"),
    )
    total = F.col("n_grams").cast("double")
    return ids.select("id").join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.round(
            F.coalesce(F.lit(1.0) - F.col("n_distinct") / total, F.lit(0.0)), 6
        ).alias("dup_ngram_frac"),
        F.round(F.coalesce(F.col("top_occ") / total, F.lit(0.0)), 6).alias(
            "top_ngram_frac"
        ),
    )


def ngram_repetition_battery(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The full Gopher word-n-gram repetition battery (Rae et al. 2021
    §A1.1): per document, for each n in ``top_ns`` the character mass of
    the single most-frequent n-gram, and for each n in ``dup_ns`` the
    character mass of all n-grams occurring more than once — each
    normalized by the total n-gram character mass at that n
    (``occ x len`` summed over distinct grams; a documented deviation
    from the paper's character-position coverage, which double-counts
    nothing but is not expressible without per-position bookkeeping).
    The most-frequent gram is chosen deterministically: highest count,
    then longest, then lexicographically greatest.

    Returns (id, top{n}_char_frac ..., dup{n}_char_frac ...) — one row
    per input document; documents with fewer than n tokens score 0.0
    at that n.

    Scale shape: ONE tagged union of the per-n gram streams feeds ONE
    (id, n, gram) count and ONE (id, n) aggregate — two partial-
    aggregating shuffles TOTAL regardless of how many n values are
    requested, both keyed by the document id, so a degenerate document
    repeating one phrase forever costs its shuffle share (same rule as
    the line battery, operators/lines.py).

    The token array is MATERIALIZED into its own projection before the
    per-position gram lambdas reference it: inlining ``tokens(text)``
    into the ``slice`` lambda would re-tokenize the whole document at
    EVERY gram position (O(tokens²) per doc per n — measured 400s+ at
    sf0.1 before the hoist, seconds after)."""
    ns = tuple(dict.fromkeys(tuple(top_ns) + tuple(dup_ns)))
    toked = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        tokens(text_col).alias("_toks"),
    )
    toks = F.col("_toks")

    def grams_at(n: int) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    tagged = toked.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("n"), grams_at(n).alias("grams")
                    )
                    for n in ns
                ]
            )
        ).alias("g"),
    ).select("id", F.col("g.n").alias("n"), F.explode("g.grams").alias("gram"))
    per_gram = tagged.groupBy("id", "n", "gram").agg(
        F.count(F.lit(1)).alias("occ")
    )
    mass = (F.col("occ") * F.length("gram")).cast("bigint")
    per_n = per_gram.groupBy("id", "n").agg(
        F.sum(mass).alias("total_mass"),
        F.sum(F.when(F.col("occ") > 1, mass).otherwise(F.lit(0))).alias(
            "dup_mass"
        ),
        F.max(
            F.struct(F.col("occ"), F.length("gram").alias("len"), F.col("gram"))
        ).alias("top"),
    )
    top_mass = (F.col("top.occ") * F.col("top.len")).cast("double")
    scored = per_n.select(
        "id",
        "n",
        (top_mass / F.col("total_mass")).alias("top_frac"),
        (F.col("dup_mass").cast("double") / F.col("total_mass")).alias(
            "dup_frac"
        ),
    )
    aggs = [
        F.round(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("top_frac"))), F.lit(0.0)
            ),
            6,
        ).alias(f"top{n}_char_frac")
        for n in top_ns
    ] + [
        F.round(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("dup_frac"))), F.lit(0.0)
            ),
            6,
        ).alias(f"dup{n}_char_frac")
        for n in dup_ns
    ]
    per_doc = scored.groupBy("id").agg(*aggs)
    return (
        df.select(F.col(id_col).cast("bigint").alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            *[
                F.coalesce(F.col(c), F.lit(0.0)).alias(c)
                for c in per_doc.columns
                if c != "id"
            ],
        )
    )


#: PII patterns — shared by the scrubber and its oracle builders; plain
#: ASCII classes so the Java-regex and RE2 interpretations coincide.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PHONE_RE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
#: IPv4 literals; \b is the ASCII word boundary in BOTH Java regex and
#: RE2, so the three dialects agree on match extents.  Conservative by
#: design (dotted quads in version strings flag too — curation routes
#: hits to review, it does not need to disambiguate).
IPV4_RE = r"\b(?:[0-9]{1,3}[.]){3}[0-9]{1,3}\b"


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic PII scrubbing for corpus curation: e-mail addresses
    → ``<EMAIL>``, phone-shaped numbers → ``<PHONE>``, IPv4 literals →
    ``<IP>``.  Returns (id, text, n_emails, n_phones, n_ips) with
    per-pattern counts taken on the ORIGINAL text.  The counts are
    detection tallies, not a replacement audit: in rare overlaps they
    can exceed what the sequential replacement rewrote — e.g. a dotted
    quad inside an e-mail domain (``a@1.2.3.4.com``) increments n_ips
    while the e-mail replacement consumes the quad.
    Pure JVM regex — no UDF; patterns are intentionally conservative
    (high precision) since curation pipelines route low-confidence hits
    to review rather than silently rewriting them."""
    text = F.col(text_col)
    emails = F.regexp_count(text, F.lit(EMAIL_RE)).cast("bigint")
    phones = F.regexp_count(text, F.lit(PHONE_RE)).cast("bigint")
    ips = F.regexp_count(text, F.lit(IPV4_RE)).cast("bigint")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        scrubbed.alias("text"),
        emails.alias("n_emails"),
        phones.alias("n_phones"),
        ips.alias("n_ips"),
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_max_grams: int = 1_000_000,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    token ``n``-gram with an evaluation/benchmark set — the standard
    guard against test-set leakage into training data.

    Returns (id, n_grams, n_hits, contaminated) per corpus document:
    ``n_grams`` = distinct token n-grams in the document, ``n_hits`` =
    how many of those also occur anywhere in the benchmark set,
    ``contaminated`` = 1 if any hit.  Documents shorter than ``n``
    tokens have no n-grams and are clean by definition.

    Scale shape (the part that matters at 100 TB): the benchmark side is
    normally eval data — thousands of documents — so its distinct gram
    set rides **broadcast** and the corpus-side membership test is a
    map-side left join on the exploded grams; no corpus bytes shuffle
    for the join.  But the hint is MEASURED, not assumed (round 15):
    the gram set is pinned lazily (lineage kept, released with the
    caller's pin scope) and counted, and above ``broadcast_max_grams``
    (default 1M ≈ low-hundreds of MB built) the join falls back to a
    plain gram-keyed shuffle join — the round-15 GB rung drove this
    operator with a 68k-doc benchmark whose gram set serialized past
    1 GiB, and the unconditional broadcast build died on
    spark.driver.maxResultSize collecting it (guide §3.1: explicit
    broadcast hints are for sides you KNOW are small; when the caller
    can't know, measure first — the count is one cheap job over the
    aggregate the plan needs anyway).  Both counts then come from ONE
    partial-aggregated groupBy(id) (explode keeps a document's grams
    inside one partition, so map-side combine collapses to ~1 row per
    document before the only shuffle).  No join-back, no second pass
    over the text."""
    # ONE lookahead-regex pass over the normalized text instead of a
    # transform(sequence)/slice/array_join HOF chain: higher-order
    # functions are CodegenFallback (interpreted, per-element object
    # allocation) — the same swap word_shingle_strings documents, and
    # byte-identical output (the shingle is the n tokens joined by one
    # space either way; measured ~5x on the curation pipeline's
    # decontaminate stage).
    toks = tokens(text_col)
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    pat = rf"(?:^| )(?=((?:\S+ ){{{n - 1}}}\S+))"
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1)),
    ).otherwise(F.array().cast("array<string>"))
    corpus_g = corpus.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.explode_outer(grams).alias("gram"),
    )
    bench_g = (
        benchmark.select(F.explode(grams).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # measure-then-choose (round 15, guide §3.1): pin the gram set
    # (lineage kept), count it, and only then hint broadcast —
    # identical join semantics either way, only the strategy differs
    bench_g = pinning.pin(bench_g, "decontam_bench_grams", eager=False)
    n_bench_grams = bench_g.count()
    right = (
        F.broadcast(bench_g)
        if n_bench_grams <= broadcast_max_grams
        else bench_g
    )
    joined = corpus_g.join(right, "gram", "left")
    return joined.groupBy("id").agg(
        F.count("gram").cast("bigint").alias("n_grams"),
        F.count("hit").cast("bigint").alias("n_hits"),
        F.max(F.coalesce("hit", F.lit(0))).cast("bigint").alias("contaminated"),
    )


def blocklist_filter(
    df: DataFrame,
    words: tuple[str, ...],
    max_frac: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocklist-based safety filtering: flag documents whose fraction of
    blocklisted tokens exceeds ``max_frac`` (the word-filter stage of a
    curation pipeline — crude by design; docs near the line route to a
    classifier downstream).

    Returns (id, n_tokens, n_flagged, flagged_frac, keep).  The word set
    rides along as a literal array expression (same shape as the
    language profiles), so the scoring is a pure map-side scan at any
    corpus size — no joins, no shuffles, whole-stage codegen."""
    toks = tokens(text_col)
    n = F.size(toks).cast("bigint")
    hits = _count_in(toks, words).cast("bigint")
    frac = F.round(
        hits.cast("double") / F.greatest(n, F.lit(1)).cast("double"), 6
    )
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        n.alias("n_tokens"),
        hits.alias("n_flagged"),
        frac.alias("flagged_frac"),
        (frac <= max_frac).cast("bigint").alias("keep"),
    )


def chunk_documents(
    df: DataFrame,
    window: int = 512,
    stride: int = 384,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows — context-length
    preprocessing for embedding models and training sequence prep
    (the complement of sequence packing: packing concatenates short
    docs, chunking cuts long ones).

    Emits (id, chunk_idx, n_tokens, chunk_text): one chunk per window
    start 1, 1+stride, 1+2*stride, ... ≤ |tokens|, each up to ``window``
    tokens (the tail chunk may be shorter).  ``stride`` < ``window``
    gives overlapping context; empty documents emit no chunks.

    Entirely whole-stage-codegen expression work (sequence → transform →
    slice → array_join) plus one explode — a map-side operator with NO
    shuffle, so it composes into any scan at any corpus size."""
    if not (0 < stride and 0 < window):
        raise ValueError("window and stride must be positive")
    toks = tokens(text_col)
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("bigint").alias("chunk_idx"),
            F.least(F.lit(window), n - s + 1).cast("bigint").alias("n_tokens"),
            F.array_join(F.slice(toks, s, window), " ").alias("chunk_text"),
        ),
    )
    return df.select(
        F.col(id_col).cast("bigint").alias("id"), F.explode(chunks).alias("c")
    ).select("id", "c.chunk_idx", "c.n_tokens", "c.chunk_text")


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic 32-bit rolling-hash fingerprint of the normalized
    text (lower-case, collapsed whitespace) — the Java polynomial hash,
    reproducible in any SQL engine (functions.keys)."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        java_hash(normalized).cast("bigint").alias("fingerprint"),
    )


def repeated_ngram_spans(
    df: DataFrame,
    n: int = 4,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Substring-level duplication measurement (the Lee et al.
    "Deduplicating Training Data" ExactSubstr shape, at n-gram
    granularity): every position whose ``n``-gram occurs at least
    ``min_count`` times CORPUS-WIDE (within-doc repeats included) marks
    its n-token span as duplicated; the output is the per-document
    union of those spans — (id, n_tokens, n_flagged, flagged_frac),
    the signal a curation pass thresholds or clips on.

    Scale shape: positions explode to |tokens| rows; the corpus-wide
    count is ONE hash-aggregate on the gram (map-side combined — the
    common unique gram collapses before the shuffle); survivors
    semi-join back and the span union is a distinct over (id,
    position).  Grams shuffle as strings here because the differential
    oracle replays them verbatim; a 100 TB deployment shuffles
    ``xxhash64(gram)`` instead (8 bytes, same plan shape, collision
    odds ~n²/2⁶⁴).  No pairwise comparisons anywhere — cost is corpus
    tokens, not docs².

    The tokenized base and the gram-explode frame each feed two
    consumers (gram build + final join; count + semi-join), so both
    materialize by default — otherwise the tokenize/explode pipeline,
    the most expensive stage, executes once per consumer (the
    lsh_pairs_between lesson); ``materialize=False`` keeps the plan
    lazy for inspection."""
    base = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        tokens(text_col).alias("tks"),
    ).withColumn("n_tokens", F.size("tks").cast("bigint"))
    base = pinning.pin(base, "ngram_rep_tokens", eager=materialize)
    g = (
        base.filter(F.col("n_tokens") >= n)
        .select(
            "id",
            "tks",
            F.explode(F.sequence(F.lit(0), F.col("n_tokens") - n)).alias("pos"),
        )
        .select(
            "id",
            "pos",
            F.array_join(F.slice("tks", F.col("pos") + 1, n), " ").alias("gram"),
        )
    )
    g = pinning.pin(g, "ngram_rep_grams", eager=materialize)
    dup_grams = g.groupBy("gram").count().filter(F.col("count") >= min_count)
    hits = g.join(dup_grams.select("gram"), "gram", "left_semi")
    cov = (
        hits.select("id", F.explode(F.sequence("pos", F.col("pos") + n - 1)).alias("p"))
        .distinct()
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("n_flagged"))
    )
    return (
        base.select("id", "n_tokens")
        .join(cov, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("n_flagged", F.lit(0)).cast("bigint").alias("n_flagged"),
            F.round(
                F.coalesce("n_flagged", F.lit(0))
                / F.greatest("n_tokens", F.lit(1)),
                6,
            ).alias("flagged_frac"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    copartition: bool | None = None,
) -> DataFrame:
    """Bigram language-model quality scoring (the CCNet/KenLM-style
    perplexity filter, self-trained): the corpus's own add-one-smoothed
    bigram model scores every document by mean log-probability —
    boilerplate and word-soup outliers score far from the corpus mode,
    which is the signal a perplexity-window filter cuts on.

    ``score = mean over adjacent pairs of ln((B(a,b)+1)/(U(a)+V))``
    with B/U the corpus bigram/unigram counts and V the vocabulary
    size.  Two count aggregates train the model; scoring is an
    equi-join of the doc-pair explode against the bigram table (plus a
    unigram join) and one mean per doc — all JVM-side, shuffles keyed
    on grams, nothing corpus-quadratic.  The bigram table stays a
    first-class DataFrame (at web scale it is far too big to
    broadcast; the join IS the scale path).

    Returns (id, n_pairs, lm_score) — docs with < 2 tokens score NULL
    (no pairs).  ln() runs on identical doubles in Spark and DuckDB
    (integer num/den), so the 6-decimal rounded mean is differentially
    stable."""
    base = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        tokens(text_col).alias("tks"),
    )
    # materialize=False builds the LAZY twin for plan inspection
    # (tools/plan_audit.py), same convention as the dedup operators —
    # eager checkpoints would truncate the audited plan at ExistingRDD
    # feeds pairs AND the final join
    base = pinning.pin(base, "lm_tokens", eager=materialize)
    # Pre-aggregate the doc side to (id, a, b, c) BEFORE the gram-keyed
    # score join: a Zipfian hot bigram ("of the") otherwise fans one
    # join-shuffle row per OCCURRENCE into a single (a, b) partition;
    # collapsing duplicates per doc bounds the hot key's rows at one
    # per (doc, bigram) — same math via the weighted mean below.
    docpairs = (
        base.filter(F.size("tks") >= 2)
        .select("id", F.explode(adjacent_pairs("tks")).alias("p"))
        .groupBy("id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    # Scale-adaptive gram co-partition (round 16): above the broadcast
    # regime the pinned frame's two consumers each re-shuffle by gram
    # keys — the `big` aggregate exchanges (a, b) partials and the SMJ
    # score probe exchanges the FULL frame.  Hash-partitioning by
    # (a, b) BEFORE the pin (a checkpoint drops `outputPartitioning`,
    # which is why this pin stays a lineage-kept persist) satisfies the
    # aggregate's clustering, keeps `big` co-partitioned with its
    # probe, and both joins run exchange-free off the one shared
    # shuffle.  Below the threshold the joins ride BroadcastHashJoin
    # and the extra exchange would be pure cost, so the trigger is the
    # SAME plan-size policy that flips the pin to DISK_ONLY: a
    # disk-pinned gram frame is also gram-partitioned.  Keyed on (a, b),
    # not (a): a Zipfian head unigram would funnel every "the …" bigram
    # into one partition; the pair key spreads the head.
    if copartition is None:
        est = pinning.plan_size_estimate(docpairs)
        copartition = est is not None and est >= pinning.SMALL_FRAME_BYTES
    if copartition:
        docpairs = docpairs.repartition("a", "b")
    # trains B AND scores; a co-partitioned pin stays lazy to keep its
    # partitioning visible (a checkpoint would erase it)
    docpairs = pinning.pin(
        docpairs, "lm_doc_pairs", eager=materialize and not copartition
    )
    uni = (
        base.select(F.explode("tks").alias("a"))
        .groupBy("a")
        .agg(F.count("*").alias("u"))
    )
    # vocab size AND the score join; in the co-partition regime the
    # pin keeps the aggregate's existing (a) partitioning (already
    # paid) so the unigram probe join needs no re-exchange either
    uni = pinning.pin(
        uni, "lm_unigrams", eager=materialize and not copartition
    )
    vocab = uni.groupBy().agg(F.count("*").alias("v"))
    big = docpairs.groupBy("a", "b").agg(F.sum("c").alias("bc"))
    scored = (
        docpairs.join(big, ["a", "b"])
        .join(uni, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            "c",
            F.log((F.col("bc") + 1) / (F.col("u") + F.col("v"))).alias("lp"),
        )
        .groupBy("id")
        .agg(
            F.sum("c").cast("bigint").alias("n_pairs"),
            F.round(F.sum(F.col("c") * F.col("lp")) / F.sum("c"), 6).alias(
                "lm_score"
            ),
        )
    )
    # the left side needs ONLY ids — take them from the raw input (a
    # column-pruned parquet scan of the id column) instead of reading
    # the pinned (id, token-array) blocks just to project the arrays
    # away (guide §6: let pruning reach the scan).  Same rows by
    # construction: base is a narrow projection of df.
    return (
        df.select(F.col(id_col).cast("bigint").alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            "lm_score",
        )
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    middle_pct: int = 50,
    tail_pct: int = 10,
    materialize: bool = True,
) -> DataFrame:
    """CCNet-style perplexity partitioning + bucket-conditioned keep
    sampling: score every document with the corpus's own bigram LM
    (:func:`ngram_lm_score`), split each language into head / middle /
    tail thirds by score (head = best mean log-probability = lowest
    perplexity), then keep ALL of the head, ``middle_pct``% of the
    middle and ``tail_pct``% of the tail — the exact shape of the
    CCNet curation recipe (Wenzek et al., "CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data").

    The thirds are RANK-based, not ntile: bucket boundaries come from
    ``(rank-1) * 3 < k * n`` over a total order (score desc nulls
    last, id), so equal rounded scores land deterministically and the
    DuckDB oracle replays the split exactly.  The keep decision uses
    the Fibonacci id-hash bucket (operators.sampling.fibonacci_bucket)
    — decorrelated from modular id sampling like every other sampler
    here.

    Scale shape: scoring is the LM's gram-keyed joins; the split's
    per-language rank is a window-free two-phase global rank
    (sampling._two_phase_rank, round 13) — languages are FEW and HUGE
    at crawl scale, the exact mega-stratum regime where a per-lang
    ranking window funnels one language through one task's sort; the
    two-phase form spreads it across every range bucket and stays
    bit-equal to the window rank (total order).  A corpus that can
    tolerate approximate thirds can still swap in approx-percentile
    score cutoffs (two scans, no rank at all).

    Returns (id, lang, bucket, kept)."""
    from .sampling import _two_phase_rank, fibonacci_bucket

    scored = ngram_lm_score(
        df, text_col=text_col, id_col=id_col, materialize=materialize
    )
    lang = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(lang_col).alias("lang"),
    )
    ranked = _two_phase_rank(
        scored.join(lang, "id"),
        ["lang"],
        [("lm_score", True), "id"],  # score desc NULLS LAST, id tiebreak
        out="_rk",
        total_col="_n",
    )
    r3 = (F.col("_rk") - 1) * 3
    n = F.col("_n")
    bucket = (
        F.when(r3 < n, F.lit("head"))
        .when(r3 < 2 * n, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    fib = fibonacci_bucket("id")
    return (
        ranked
        .select("id", "lang", bucket.alias("bucket"))
        .select(
            "id",
            "lang",
            "bucket",
            F.when(F.col("bucket") == "head", F.lit(1))
            .when(
                (F.col("bucket") == "middle") & (fib < middle_pct), F.lit(1)
            )
            .when((F.col("bucket") == "tail") & (fib < tail_pct), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("kept"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 100,
    materialize: bool = True,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information — the
    word2phrase-style phrase miner a tokenizer-prep pipeline runs to
    decide which adjacent pairs ("new york", "machine learning") should
    fuse into single vocabulary units before BPE training.

    ``PMI(a,b) = ln((B(a,b)/M) / ((U(a)/N) * (U(b)/N)))`` with B/U the
    corpus bigram/unigram counts and M/N their totals; ``min_count``
    cuts the low-frequency noise PMI is notoriously loud on (a pair
    seen once between two rare words maxes the score).

    Scale shape: both count tables aggregate with map-side combine
    keyed on grams, so a Zipfian hot token contributes ONE row per
    distinct bigram to the score join, never one per occurrence — the
    same pre-aggregation-by-construction that de-skewed the bigram LM
    (:func:`ngram_lm_score`).  The unigram table joins twice (once per
    pair side) as a first-class DataFrame — at web scale the
    vocabulary outgrows broadcast; the gram-keyed equi-join IS the
    scale path.  N and M are one-row aggregates and ride a broadcast
    cross join.  The top-k is TakeOrderedAndProject (per-partition
    heads, never a global sort materialization).

    Determinism: PMI is computed on integer-ratio doubles with an
    identical parenthesization in the DuckDB oracle, floor-quantized
    at 1e-9; ties break on (term_a, term_b).  Returns (term_a, term_b,
    pair_count, pmi_q, pmi)."""
    base = df.select(tokens(text_col).alias("tks"))
    # feeds pairs AND unigrams
    base = pinning.pin(base, "pmi_tokens", eager=materialize)
    pairs = (
        base.filter(F.size("tks") >= 2)
        .select(F.explode(adjacent_pairs("tks")).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("bc"))
    )
    pairs = pinning.pin(pairs, "pmi_pairs", eager=materialize)  # scores + M
    uni = (
        base.select(F.explode("tks").alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("u"))
    )
    uni = pinning.pin(uni, "pmi_unigrams", eager=materialize)  # joins + N
    n_tot = uni.groupBy().agg(F.sum("u").alias("n"))
    m_tot = pairs.groupBy().agg(F.sum("bc").alias("m"))
    pmi = (
        F.col("bc") / F.col("m")
    ) / ((F.col("ua") / F.col("n")) * (F.col("ub") / F.col("n")))
    return (
        pairs.filter(F.col("bc") >= min_count)
        .join(uni.select(F.col("a"), F.col("u").alias("ua")), "a")
        .join(
            uni.select(F.col("a").alias("b"), F.col("u").alias("ub")), "b"
        )
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(m_tot))
        .select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            F.col("bc").cast("bigint").alias("pair_count"),
            F.floor(F.log(pmi) * F.lit(1_000_000_000.0))
            .cast("bigint")
            .alias("pmi_q"),
            F.round(F.log(pmi), 6).alias("pmi"),
        )
        .orderBy(
            F.col("pmi_q").desc(), F.col("term_a"), F.col("term_b")
        )
        .limit(top_k)
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    positions: bool = False,
    hash_fn: str = "java",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    algorithm): hash every character ``k``-gram of the normalized text,
    slide a window of ``w`` consecutive gram hashes, and keep each
    window's MINIMUM — the guarantee is that any shared substring of
    length >= k+w-1 between two documents yields at least one shared
    fingerprint, while storing only ~1/w of the gram hashes.  The
    selected-value (not position) variant is emitted: the distinct
    fingerprint set per document, the form a plagiarism / overlap
    detector joins on.

    Everything is one JVM-side projection (normalize → per-gram
    Java-hash fold → per-window array_min → distinct → explode): no
    shuffle at all until a downstream consumer aggregates or joins on
    ``fp``.  Documents shorter than ``k`` chars contribute their whole
    normalized text as the single gram (the word_shingles fallback
    rule); empty documents emit no rows.

    ``hash_fn`` selects the gram hash:

    * ``"java"`` (default) — the reference's Java polynomial hash
      (functions.keys.java_hash — Utils.scala:85-92), chosen for its
      byte-exact DuckDB replay so the WHOLE pipeline is differentially
      checkable; the fold costs O(k) expression work per gram.
    * ``"xxhash64"`` — Spark's native 64-bit hash over the same grams:
      IDENTICAL plan shape (one JVM projection, no shuffle), one
      native hash call per gram instead of the k-step interpreted
      fold — the production swap once engine-reproducibility is no
      longer required (measured per-doc saving in SCALE.md).  The
      winnowing guarantee (any shared substring of length >= k+w-1
      shares a fingerprint) is hash-agnostic and property-tested for
      this path in tests/test_text_analysis.py; only the SELECTION of
      which grams survive differs, so fingerprint sets from the two
      hash fns are not comparable with each other.

    With ``positions=True`` the POSITIONAL variant is emitted instead:
    (id, fp, pos) where ``pos`` is the 1-based character offset (into
    the normalized text) of the k-gram each window selected (first
    occurrence of the window minimum, per Schleimer et al.'s recorded
    form) — the extra column is what lets a consumer LOCALIZE an
    overlap, not just flag it.  One fp can appear at several positions.

    Returns (id, fp) — one row per distinct fingerprint per document —
    or (id, fp, pos) rows distinct on the pair."""
    if hash_fn not in ("java", "xxhash64"):
        raise ValueError(f"hash_fn must be 'java' or 'xxhash64', got {hash_fn!r}")
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    src = df.select(
        F.col(id_col).cast("bigint").alias("id"), norm.alias("nm")
    ).filter(F.length("nm") > 0)
    n_grams = F.greatest(F.length("nm") - (k - 1), F.lit(1))
    if hash_fn == "java":
        gram_hash = lambda g: java_hash(g).cast("bigint")  # noqa: E731
    else:
        gram_hash = lambda g: F.xxhash64(g)  # noqa: E731
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: gram_hash(F.substring(F.col("nm"), i, F.lit(k))),
    )
    with_grams = src.select("id", grams.alias("gh"))
    n_windows = F.greatest(F.size("gh") - (w - 1), F.lit(1))
    if not positions:
        fps = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda j: F.array_min(F.slice(F.col("gh"), j, w)),
            )
        )
        return with_grams.select("id", F.explode(fps).alias("fp"))

    def win(j):
        sl = F.slice(F.col("gh"), j, w)
        mn = F.array_min(sl)
        return F.struct(
            mn.alias("fp"),
            (F.array_position(sl, mn) + j - 1).cast("int").alias("pos"),
        )

    sel = F.array_distinct(F.transform(F.sequence(F.lit(1), n_windows), win))
    return with_grams.select("id", F.explode(sel).alias("s")).select(
        "id", F.col("s.fp").alias("fp"), F.col("s.pos").alias("pos")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    max_df: int = 20,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    hash_fn: str = "java",
    pin=None,
) -> DataFrame:
    """Substring-overlap candidate pairs from shared winnowing
    fingerprints — the MOSS detection join: documents sharing >=
    ``min_shared`` selected fingerprints are flagged as overlap
    candidates, after dropping "stop fingerprints" that occur in more
    than ``max_df`` documents (boilerplate n-grams carry no overlap
    signal and are what would make the bucket join quadratic).

    Scale shape: the fingerprint frame shuffles once on ``fp`` for the
    document-frequency count, survivors bucket-join on ``fp`` (per-
    bucket fanout is HARD-bounded at max_df² by the stop-fp filter —
    the same bounded-bucket argument as the LSH band join), and the
    pair aggregate shuffles on (id_a, id_b).  Nothing is ever docs².

    The fingerprint frame feeds three consumers (the frequency count
    and both join sides), so it materializes by default;
    ``materialize=False`` keeps the plan lazy for inspection.

    ``hash_fn`` passes through to :func:`winnow_fingerprints` — run
    ``"xxhash64"`` at production scale, keep ``"java"`` where the
    DuckDB differential must replay the grams.

    Returns (id_a, id_b, n_shared) with id_a < id_b."""
    fps = winnow_fingerprints(
        df, k=k, w=w, text_col=text_col, id_col=id_col, hash_fn=hash_fn
    )
    # ``pin`` (df -> df) overrides the materialization — registry
    # queries pass a keyed persist_deferred so warm repeats claim the
    # fingerprint frame instead of re-hashing the corpus
    fps = (
        pin(fps) if pin is not None
        else pinning.pin(fps, "winnow_fingerprints", eager=materialize)
    )
    keep = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    rare = fps.join(keep, "fp", "left_semi")
    a = rare.select(F.col("fp"), F.col("id").alias("id_a"))
    b = rare.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_overlap_spans(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    max_df: int = 20,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    hash_fn: str = "java",
    pin=None,
) -> DataFrame:
    """MOSS overlap detection WITH localization: like
    :func:`winnow_overlap_pairs`, but built on the positional
    fingerprint variant so each flagged pair also carries the matched
    span EXTENTS on both sides — the character ranges (into the
    normalized text) a curation pipeline needs to CUT the overlap, not
    just flag it.

    Per pair: ``n_shared`` distinct shared fingerprints;
    ``a_start``/``a_end`` the 1-based first and last character touched
    by a shared fingerprint's k-gram in doc a (``min(pos)`` /
    ``max(pos) + k - 1``), same for b.  Document-frequency stop-fps are
    computed on DISTINCT (id, fp) so a fingerprint repeating inside one
    document is still one vote, matching the value-only variant.

    Scale shape is the value-only join's, carrying two extra int
    columns: the fp-keyed bucket join stays hard-bounded at max_df² per
    bucket (positions multiply rows per (id, fp) only by the in-doc
    repeat count of the SELECTED grams, itself ~1/w of grams).

    Returns (id_a, id_b, n_shared, a_start, a_end, b_start, b_end)
    with id_a < id_b."""
    pfs = winnow_fingerprints(
        df, k=k, w=w, text_col=text_col, id_col=id_col, positions=True,
        hash_fn=hash_fn,
    )
    pfs = (
        pin(pfs) if pin is not None
        else pinning.pin(pfs, "winnow_positions", eager=materialize)
    )
    keep = (
        pfs.select("id", "fp")
        .distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    rare = pfs.join(keep, "fp", "left_semi")
    a = rare.select("fp", F.col("id").alias("id_a"), F.col("pos").alias("pos_a"))
    b = rare.select("fp", F.col("id").alias("id_b"), F.col("pos").alias("pos_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.countDistinct("fp").cast("bigint").alias("n_shared"),
            F.min("pos_a").alias("a_start"),
            (F.max("pos_a") + (k - 1)).alias("a_end"),
            F.min("pos_b").alias("b_start"),
            (F.max("pos_b") + (k - 1)).alias("b_end"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove character spans from documents — the CUT step that
    completes the MOSS pipeline (detect via
    :func:`winnow_overlap_pairs`, localize via
    :func:`winnow_overlap_spans`, cut here).  ``spans`` is
    (id, start, end) with 1-based inclusive character offsets into the
    NORMALIZED text (the winnowing offset convention); overlapping or
    adjacent spans per document are merged before cutting.

    All JVM-side: the spans aggregate per id (sorted struct array), a
    single HOF ``aggregate`` merges intervals and stitches the kept
    substrings in one pass (O(|spans|) per doc — never rebuilding the
    accumulator string per interval beyond Spark's copy-on-concat,
    which is bounded by |text|), and an outer join carries untouched
    documents through unchanged.

    Returns (id, n_spans, cut_chars, text_cut) — ``text_cut`` of an
    untouched doc is its normalized text, so downstream operators see
    one consistent normalization."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    docs = df.select(F.col(id_col).cast("bigint").alias("id"), norm.alias("nm"))
    sp = (
        spans.select(
            F.col("id").cast("bigint").alias("id"),
            F.struct(
                F.col("start").cast("int").alias("s"),
                F.col("end").cast("int").alias("e"),
            ).alias("iv"),
        )
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("iv")).alias("ivs"))
    )
    joined = docs.join(sp, "id", "left")
    # one fold over the sorted intervals: carry (cursor, kept-so-far,
    # merged-span count, cut-char count); finish by appending the tail
    zero = F.struct(
        F.lit(1).cast("int").alias("cur"),
        F.lit("").alias("acc"),
        F.lit(0).cast("int").alias("n"),
        F.lit(0).cast("int").alias("cut"),
    )

    # the stitched text needs the doc column inside the lambda, which
    # F.aggregate supports via closure over F.col("nm"); an interval
    # fully inside an earlier cut (e < s_eff) contributes nothing
    def step2(acc, iv):
        s, e = iv["s"], iv["e"]
        s_eff = F.greatest(s, acc["cur"])
        covered = e >= s_eff
        kept_piece = F.when(
            covered & (s_eff > acc["cur"]),
            F.substring(F.col("nm"), acc["cur"], s_eff - acc["cur"]),
        ).otherwise(F.lit(""))
        return F.struct(
            F.when(covered, F.greatest(e + 1, acc["cur"]))
            .otherwise(acc["cur"])
            .alias("cur"),
            F.concat(acc["acc"], kept_piece).alias("acc"),
            (acc["n"] + 1).cast("int").alias("n"),
            (
                acc["cut"]
                + F.when(covered, e - s_eff + 1).otherwise(F.lit(0))
            )
            .cast("int")
            .alias("cut"),
        )

    folded = F.aggregate(F.col("ivs"), zero, step2)
    text_cut = F.concat(
        folded["acc"],
        F.substring(
            F.col("nm"),
            folded["cur"],
            F.greatest(F.length("nm") - folded["cur"] + 1, F.lit(0)),
        ),
    )
    return joined.select(
        "id",
        F.coalesce(F.size("ivs"), F.lit(0)).alias("n_spans"),
        F.coalesce(folded["cut"], F.lit(0)).alias("cut_chars"),
        F.when(F.col("ivs").isNull(), F.col("nm"))
        .otherwise(text_cut)
        .alias("text_cut"),
    )


def exact_substring_spans(
    df: DataFrame,
    k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_fn: str = "exact",
    two_phase: bool = False,
    materialize: bool = True,
    pin=None,
) -> DataFrame:
    """EXACT substring-duplication detection at k-token granularity —
    the ExactSubstr dedup modality of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed without
    a suffix array: a duplicated token span of length >= ``k`` contains
    a duplicated k-token shingle at EVERY in-span start position, and a
    k-shingle with corpus frequency >= ``min_count`` IS a duplicated
    span of exactly k tokens — so marking every shingle whose exact
    text occurs >= min_count times in the corpus covers precisely the
    duplicated-span positions, deterministically and with zero
    sampling (the winnowing pipeline detects the SAME spans
    probabilistically per window selection; this is its exact sibling).

    Shape: shingling is ONE map-side JVM projection per document — the
    token start offsets come from a linear character scan for space
    positions (the normalized text is single-spaced), each shingle is a
    ``substring(nm, s, e - s + 1)`` slice, no per-token accumulator and
    no tokenize-explode-window shuffle.  The only shuffles are the
    shingle-frequency count (map-side partial combine, skew-safe for
    boilerplate mega-shingles — a hot shingle partially aggregates to
    one row per map task) and the left-semi join of positions against
    the >= min_count keys; shuffle ROWS are proportional to corpus
    TOKENS, never to pairs.

    ``key_fn`` selects the count/join key:

    * ``"exact"`` (default) — the shingle text itself: collision-proof
      and byte-exact DuckDB-replayable; shuffle BYTES carry ~k tokens
      per row.
    * ``"xxhash64"`` — a 64-bit hash of the shingle: identical plan,
      8-byte fixed-width keys (the 100 TB shuffle-byte path); false
      positives are hash collisions, probability-bounded by
      n_shingles²/2^65, and equivalence with "exact" on real corpora is
      pinned in tests.

    ``two_phase=True`` (exact mode only) keeps collision-proof
    semantics while shuffling hash-width bytes: phase 1 counts by
    xxhash64 (8-byte keys, map-side combine) and semi-joins the
    positions against the hot HASHES — a SUPERSET of the true
    duplicated positions (collisions can only add candidates); phase 2
    re-counts ONLY those candidates by exact shingle string and
    semi-joins again.  The verify kills every collision and the result
    is bit-identical to the one-phase exact path (pinned in tests,
    measured by tools/scalecheck.py substr).

    Round 15 — the shingle STRING never shuffles corpus-wide in this
    mode: phase 1's position rows carry only (id, start, end, _hh) —
    the string exists transiently inside the map stage that hashes it
    — so the count AND the candidate semi-join move ~32-byte rows;
    phase 2 re-derives candidate strings by a ``substring(nm, start,
    end-start+1)`` join back to the normalized text on ``id`` (one
    corpus-text pass), so string bytes shuffle only ∝ duplicated
    content.  The round-14 GB rung killed the composed pipeline on
    disk exhaustion exactly here: one-phase mode writes the ~150-byte
    string keys into BOTH the count and the join shuffles (~40×
    corpus bytes on disk); this shape writes ~2% of that.  ``pin``
    (or the default eager pin) applies at the two
    reuse sites — the narrow position frame and the candidate string
    frame — both bounded (~32 B/token and ∝ duplicated content).

    Returns (id, start, end): 1-based inclusive character offsets into
    the NORMALIZED text (the ``cut_spans`` convention) of every
    duplicated shingle occurrence — all copies are marked, per the
    ExactSubstr rule; feed to :func:`cut_spans` to merge and cut.
    No counterpart in the reference (extension surface, SURVEY.md §7
    phase 7)."""
    if k < 2:
        raise ValueError("k must be >= 2 (a 1-token shingle is a token)")
    if key_fn not in ("exact", "xxhash64"):
        raise ValueError(f"key_fn must be 'exact' or 'xxhash64', got {key_fn!r}")
    if two_phase and key_fn != "exact":
        raise ValueError("two_phase applies to key_fn='exact' only")
    def _pin(frame: DataFrame) -> DataFrame:
        return (
            pin(frame) if pin is not None
            else pinning.pin(frame, "substring_rows", eager=materialize)
        )

    if two_phase:
        nsrc = _norm_text_frame(df, text_col, id_col)
        # NARROW position rows: hash the shingle inside the map stage,
        # never carry the string — (id, start, end, _hh) ≈ 32 B/row
        hashed = _pin(
            _positions_with_key(nsrc, k, "xxhash64").withColumnRenamed(
                "_sh", "_hh"
            )
        )
        hot_h = (
            hashed.groupBy("_hh")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") >= min_count)
            .select("_hh")
        )
        cand = hashed.join(hot_h, "_hh", "left_semi").select(
            "id", "start", "end"
        )
        # phase 2: recover candidate strings from the normalized text
        # by offset — one corpus-text pass, string shuffle ∝ dup bytes
        cand_str = _pin(
            cand.join(nsrc, "id").select(
                "id", "start", "end",
                F.expr("substring(nm, start, end - start + 1)").alias("_sh"),
            )
        )
        hot = (
            cand_str.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") >= min_count)
            .select("_sh")
        )
        return cand_str.join(hot, "_sh", "left_semi").select(
            "id", "start", "end"
        )
    # consumed on BOTH sides (frequency count + semi join) — pin so the
    # shingling projection runs once
    rows = _pin(_shingle_position_rows(df, k, text_col, id_col, key_fn))
    hot = (
        rows.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_sh")
    )
    return rows.join(hot, "_sh", "left_semi").select("id", "start", "end")


def _norm_text_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, nm) — the shared normalized-text projection of the
    ExactSubstr family: lower-cased, whitespace-collapsed, trimmed,
    empty docs dropped.  Split out (round 15) so the two-phase path
    can re-derive a candidate shingle's STRING from (id, start, end)
    offsets without ever shuffling shingle strings corpus-wide."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(
        F.col(id_col).cast("bigint").alias("id"), norm.alias("nm")
    ).filter(F.length("nm") > 0)


def _shingle_position_rows(
    df: DataFrame, k: int, text_col: str, id_col: str, key_fn: str
) -> DataFrame:
    """(id, start, end, _sh) — one row per k-token shingle position of
    every document, one map-side JVM projection.

    Token start offsets = 1 ++ (space positions + 1): one linear char
    scan (normalization guarantees single spaces, so every space
    terminates exactly one token).  Shingle i covers tokens i..i+k-1 =
    chars [offs[i], offs[i+k]-2] (offs[i+k]-1 is the trailing space),
    or to end-of-text for the last shingle.  The array-wrap
    ``transform(array(<offs>), o -> ...)`` below is a LET BINDING: it
    forces the offsets array to evaluate once per document — as a
    plain withColumn, projection collapse would inline the whole char
    scan into every element_at and the build would go quadratic
    (measured 17.6 s -> 1.9 s at sf0.1).  The size(o) >= k guard also
    keeps the sequence() ascending (sequence(1, 0) is DESCENDING in
    Spark) and lets short docs emit an empty array."""
    return _positions_with_key(
        _norm_text_frame(df, text_col, id_col), k, key_fn
    )


def _positions_with_key(src: DataFrame, k: int, key_fn: str) -> DataFrame:
    """Shingle-position body of :func:`_shingle_position_rows` over a
    pre-normalized (id, nm) frame — see that docstring for the offset
    math and the let-binding trick."""
    offs = (
        "concat(array(1), transform("
        " filter(sequence(1, char_length(nm)), p -> substring(nm, p, 1) = ' '),"
        " p -> p + 1))"
    )
    ivs = F.expr(f"""
        flatten(transform(array({offs}), o ->
          if(size(o) >= {k},
            transform(sequence(1, size(o) - {k} + 1), i ->
              struct(element_at(o, i) as s,
                     if(i + {k} <= size(o), element_at(o, i + {k}) - 2,
                        char_length(nm)) as e)),
            array())))
    """)
    shingle = F.expr("substring(nm, iv.s, iv.e - iv.s + 1)")
    key = shingle if key_fn == "exact" else F.xxhash64(shingle)
    return src.select("id", "nm", F.explode(ivs).alias("iv")).select(
        "id",
        F.col("iv.s").alias("start"),
        F.col("iv.e").alias("end"),
        key.alias("_sh"),
    )


def substring_shingle_keys(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_fn: str = "exact",
) -> DataFrame:
    """The DISTINCT k-token shingle keys of a corpus — the persisted
    artifact of incremental substring dedup (the analogue of the
    minhash signature store): one column ``_sh``, one row per distinct
    shingle, so a history corpus is shingled ONCE and every later
    batch joins against fixed-width keys (``key_fn="xxhash64"``) or
    the shingle strings (``"exact"``) without ever re-reading history
    text.  Write it bucket-partitioned by ``pmod(xxhash64(_sh), n)``
    for bounded layout, exactly like the BM25/trigram stores."""
    if k < 2:
        raise ValueError("k must be >= 2 (a 1-token shingle is a token)")
    if key_fn not in ("exact", "xxhash64"):
        raise ValueError(f"key_fn must be 'exact' or 'xxhash64', got {key_fn!r}")
    return (
        _shingle_position_rows(df, k, text_col, id_col, key_fn)
        .select("_sh")
        .distinct()
    )


def exact_substring_dedup_incremental(
    batch: DataFrame,
    history_keys: DataFrame,
    k: int = 20,
    min_count_batch: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_fn: str = "exact",
    materialize: bool = True,
    pin=None,
) -> DataFrame:
    """Incremental ExactSubstr dedup — the production shape: cut from
    an incoming BATCH every >= k-token span that already exists in the
    HISTORY corpus (its shingle key appears in ``history_keys``, a
    :func:`substring_shingle_keys` frame or a read-back of its stored
    parquet) OR occurs >= ``min_count_batch`` times within the batch
    itself — i.e. exactly the spans the full-union dedup would cut
    from the batch, computed WITHOUT re-shingling history.

    Shape: batch shingling is the same map-side projection as the
    self-contained operator; the within-batch frequency count and the
    history semi-join are both keyed on the shingle, so shuffle rows
    are proportional to batch TOKENS plus one fixed-width key per
    distinct HISTORY shingle — history text never moves again, and
    nothing is pairwise.  History docs are never modified (the
    incremental contract: history already went through dedup).

    Returns the :func:`cut_spans` frame over the batch."""
    if k < 2:
        raise ValueError("k must be >= 2 (a 1-token shingle is a token)")
    if key_fn not in ("exact", "xxhash64"):
        raise ValueError(f"key_fn must be 'exact' or 'xxhash64', got {key_fn!r}")
    # a store built with the OTHER key_fn would silently cut nothing
    # (disjoint key spaces) — fail loudly on the type mismatch instead
    want = "bigint" if key_fn == "xxhash64" else "string"
    got = dict(history_keys.dtypes).get("_sh")
    if got != want:
        raise ValueError(
            f"history_keys._sh is {got!r} but key_fn={key_fn!r} needs "
            f"{want!r} — the store was built with the other key_fn"
        )
    rows = _shingle_position_rows(batch, k, text_col, id_col, key_fn)
    rows = (
        pin(rows) if pin is not None
        else pinning.pin(rows, "substring_batch_rows", eager=materialize)
    )
    hot_batch = (
        rows.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count_batch)
        .select("_sh")
    )
    # ONE semi join against the UNION of the two key sets (history ∪
    # hot-batch): a semi join is set-semantics by construction, so the
    # union needs no distinct and no per-position row ever duplicates —
    # cheaper than two semi joins + a wide row-level distinct
    dup_keys = hot_batch.unionByName(history_keys.select("_sh"))
    spans = rows.join(dup_keys, "_sh", "left_semi").select("id", "start", "end")
    return cut_spans(batch, spans, text_col=text_col, id_col=id_col)


def exact_substring_dedup(
    df: DataFrame,
    k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_fn: str = "exact",
    two_phase: bool = False,
    materialize: bool = True,
    pin=None,
) -> DataFrame:
    """ExactSubstr dedup end-to-end: detect every duplicated k-token
    span (:func:`exact_substring_spans`), merge overlapping/adjacent
    occurrences per document, and CUT them from the normalized text
    (:func:`cut_spans`) — ALL copies are removed, the Lee et al. 2022
    rule (duplicated boilerplate carries no training signal in any
    copy).  Spans shorter than k tokens are kept by construction.

    Returns (id, n_spans, cut_chars, text_cut) over ALL input documents
    (untouched docs pass through normalized)."""
    spans = exact_substring_spans(
        df, k=k, min_count=min_count, text_col=text_col, id_col=id_col,
        key_fn=key_fn, two_phase=two_phase, materialize=materialize, pin=pin,
    )
    return cut_spans(df, spans, text_col=text_col, id_col=id_col)


#: Minimal HTML entity set decoded by html_extract — the ones that
#: survive tag stripping in real crawl text.  Order matters: &amp;
#: LAST so "&amp;lt;" decodes to the literal "&lt;", not "<".
_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_extract(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """HTML → training text: the raw-ingest stage a web-crawl pipeline
    runs before any quality/dedup operator (the trafilatura/jusText
    role, reduced to its deterministic regexp core so it replays in a
    SQL oracle): drop ``<script>``/``<style>`` blocks and comments,
    strip the remaining tags, decode the surviving entities, collapse
    whitespace — plus the two classic boilerplate signals: the
    ``<title>`` text and the LINK DENSITY (chars of anchor inner text
    over chars of body text, jusText's main boilerplate feature — a
    nav/footer-heavy page scores near 1, an article near 0).

    One map-side projection per document (regexp chains, no UDF, no
    shuffle); at 100 TB this runs as a scan stage fused with whatever
    filter consumes the density.

    Returns (id, title, text, n_links, link_density)."""
    raw = F.col(html_col)
    # kill non-content blocks FIRST so their text never leaks into the
    # body ((?is): case-insensitive + dotall; RE2 and Java agree here)
    no_blocks = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(raw, r"(?is)<head[^>]*>.*?</head>", " "),
                r"(?is)<script[^>]*>.*?</script>",
                " ",
            ),
            r"(?is)<style[^>]*>.*?</style>",
            " ",
        ),
        r"(?s)<!--.*?-->",
        " ",
    )
    title = F.regexp_extract(raw, r"(?is)<title[^>]*>(.*?)</title>", 1)
    # '<a(?:\s[^>]*)?>' — the opening tag must be exactly `<a>` or
    # `<a `+attrs; a bare '<a[^>]*>' would also open on <abbr>,
    # <aside>, <article>, <audio>, … and lazily swallow body text up
    # to the next </a>, inflating n_links/link_density (which the
    # curation pipeline thresholds on).  Mirrored character-for-
    # character in the DuckDB oracle and the fuzz model.
    anchors = F.regexp_extract_all(
        F.col("_nb"), F.lit(r"(?is)<a(?:\s[^>]*)?>(.*?)</a>"), 1
    )

    def clean(col):
        out = F.regexp_replace(col, r"(?s)<[^>]*>", " ")
        for ent, ch in _HTML_ENTITIES:
            out = F.replace(out, F.lit(ent), F.lit(ch))
        return F.trim(F.regexp_replace(out, r"\s+", " "))

    base = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        no_blocks.alias("_nb"),
        clean(title).alias("title"),
    )
    return base.select(
        "id",
        "title",
        clean(F.col("_nb")).alias("text"),
        F.size(anchors).cast("bigint").alias("n_links"),
        F.round(
            F.aggregate(
                anchors,
                F.lit(0).cast("bigint"),
                lambda acc, a: acc + F.length(clean(a)),
            ).cast("double")
            / F.greatest(F.length(clean(F.col("_nb"))), F.lit(1)),
            6,
        ).alias("link_density"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """zlib compression-ratio quality signal (the Gopher/RefinedWeb
    filter): highly repetitive or templated text compresses far below
    natural prose, and near-random noise barely compresses at all, so
    a curation pass cuts both tails of ``compressed/raw``.

    This is the one text signal that genuinely needs Python (no SQL
    engine exposes a deterministic DEFLATE), so it runs as an
    Arrow-batched ``mapInPandas`` — per-document zlib at a FIXED level
    (zlib output is bit-stable for a given level and input, so the
    ratio is reproducible across runs and machines).  No SQL oracle
    (rows-only gate); tests differential-check the exact bytes against
    direct ``zlib.compress``.

    Returns (id, raw_bytes, compressed_bytes, compression_ratio) —
    empty documents report ratio NULL."""
    import zlib
    from collections.abc import Iterator as _Iter

    import pandas as pd

    def run(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                raw = (row.text or "").encode("utf-8")
                if raw:
                    comp = len(zlib.compress(raw, level))
                    ratio = round(comp / len(raw), 6)
                else:
                    comp, ratio = 0, None
                out.append((row.doc_id, len(raw), comp, ratio))
            yield pd.DataFrame(
                out,
                columns=["id", "raw_bytes", "compressed_bytes", "compression_ratio"],
            )

    src = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(
        run,
        "id bigint, raw_bytes bigint, compressed_bytes bigint, "
        "compression_ratio double",
    )


#: Writing-system codepoint ranges for the script profile — EXPLICIT
#: ranges, not \p{Script} classes, so the Java-regex operator and any
#: RE2-based SQL replay count the identical character sets (the two
#: engines' script-property tables need not agree; hex ranges always
#: do).  Coverage: the major blocks a web crawl actually hits; CJK
#: unifies Han + kana, Hangul includes the syllable block only.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z\\u00C0-\\u024F",
    "cyrillic": "\\u0400-\\u04FF",
    "greek": "\\u0370-\\u03FF",
    "arabic": "\\u0600-\\u06FF",
    "hebrew": "\\u0590-\\u05FF",
    "devanagari": "\\u0900-\\u097F",
    "cjk": "\\u3040-\\u30FF\\u4E00-\\u9FFF",
    "hangul": "\\uAC00-\\uD7A3",
}


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_letters, <script>_frac ..., dominant_script): per-document
    writing-system profile over the ranges in :data:`SCRIPT_RANGES`.
    Fractions are each script's character count over the total count of
    characters in ANY profiled range (so whitespace/digits/punctuation
    never dilute the profile); documents with no profiled characters
    report 0.0 everywhere and dominant_script 'none'.  Ties break by
    script name (sorted order), making the argmax total and
    oracle-comparable.

    The multilingual curation split: language-ID (a stopword model,
    :func:`identify_language`) only works once the script is known to
    be Latin-ish; this operator is the cheap upstream router and the
    mixed-script / wrong-script page detector.

    Scale shape: one regexp_count per script fused into the scan —
    map-side, zero shuffles, no UDF."""
    text = F.col(text_col)
    counts = {
        name: F.regexp_count(text, F.lit(f"[{rng}]"))
        for name, rng in SCRIPT_RANGES.items()
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    total_col = total.cast("bigint")
    safe = F.greatest(total_col, F.lit(1)).cast("double")
    best_name, best_cnt = None, None
    for name in sorted(SCRIPT_RANGES):
        c = counts[name]
        if best_name is None:
            best_name, best_cnt = F.lit(name), c
        else:
            better = c > best_cnt
            best_name = F.when(better, F.lit(name)).otherwise(best_name)
            best_cnt = F.when(better, c).otherwise(best_cnt)
    dominant = F.when(total_col == 0, F.lit("none")).otherwise(best_name)
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        total_col.alias("n_letters"),
        *[
            F.round(counts[n].cast("double") / safe, 6).alias(f"{n}_frac")
            for n in SCRIPT_RANGES
        ],
        dominant.alias("dominant_script"),
    )
