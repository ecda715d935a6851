"""Text-analysis column builders for large-scale training-data pipelines.

All of these are pure ``pyspark.sql.functions`` Column expressions —
JVM-side, whole-stage-codegen'd, zero Python in the hot path — so they
run at full scan speed over 100 TB of documents. No counterpart exists
in the reference engine (its grammar has no scalar functions,
``/root/reference/src/qp/parser/parser.cup:208-242``); these are the
north-star extension surface.

Determinism: every function is a deterministic expression over the
input string, so results are reproducible across engines — the
workload oracles mirror each one in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny English stopword set used by the language heuristic and quality
# score. Kept deliberately small + fixed: it is part of the operator's
# contract (the DuckDB oracle hard-codes the same list).
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """Whitespace tokens (single-space split after trim — mirrors
    ``string_split(trim(x), ' ')``)."""
    return F.split(F.trim(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or EN_STOPWORDS
    toks = tokens(col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return n_stop / F.size(toks)


def punct_count(col: Column) -> Column:
    """Number of punctuation characters (fixed class)."""
    return F.length(F.regexp_replace(col, r"[^.,;:!?]", ""))


def lang_guess(col: Column) -> Column:
    """N-gram-free language heuristic: classify by English stopword
    density. (A real system plugs in fastText/CLD3 via pandas_udf; the
    heuristic keeps the operator JVM-side and oracle-checkable.)"""
    ratio = stopword_ratio(col)
    return (
        F.when(ratio >= 0.10, "en").when(ratio >= 0.04, "mixed").otherwise("other")
    )


# GPT-2-style pre-tokenizer pattern, ASCII-only so the Java regex
# (Spark) and RE2 (DuckDB oracle) dialects agree exactly: contraction
# suffixes, letter runs, digit runs, punctuation runs, whitespace runs
# — each with an optional leading space glued on, as BPE vocabularies
# expect.
BPE_ISH_PATTERN = (
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"
)


def bpe_ish_tokens(col: Column) -> Column:
    """BPE-style pre-tokenization (regex pieces, no vocab): the token
    stream a byte-pair encoder would merge. Counting these approximates
    LLM token counts far better than whitespace words."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(col: Column) -> Column:
    return F.size(bpe_ish_tokens(col))


def alpha_word_frac_of(toks: Column) -> Column:
    """Fraction of words with at least one ASCII letter, over an
    already-materialized token-array column (Gopher rule A1.1: pages
    where <80% of words have an alphabetic character are dropped).

    Empty token arrays score a DEFINED 0.0 (not the 0/0 NULL): an
    empty/whitespace doc has no alphabetic words, and a standalone
    profile of it should read as maximally non-alphabetic rather than
    unknown — same guard shape as :func:`dup_gram_frac_of`."""
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(F.size(toks) > 0, n_alpha / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def alpha_word_frac(col: Column) -> Column:
    """Convenience form over raw text. Hot paths should project
    :func:`tokens` to a column first and use
    :func:`alpha_word_frac_of` (interpreted-lambda note on
    :func:`shingles_of_tokens`)."""
    return alpha_word_frac_of(tokens(col))


def rep_token_frac_of(toks: Column) -> Column:
    """Token-repetition ratio: 1 − distinct/total tokens. The
    word-level analogue of Gopher's duplicate-line fraction —
    boilerplate and keyword-stuffed pages score high.

    Empty token arrays score a DEFINED 0.0 (nothing repeats in an
    empty doc), not the 0/0 NULL — same guard as
    :func:`alpha_word_frac_of` / :func:`dup_gram_frac_of`."""
    rep = 1.0 - F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)
    return F.when(F.size(toks) > 0, rep).otherwise(F.lit(0.0))


def rep_token_frac(col: Column) -> Column:
    return rep_token_frac_of(tokens(col))


def raw_shingles_of_tokens(toks: Column, n: int = 2) -> Column:
    """ALL word n-grams in order (duplicates kept — contrast
    :func:`shingles_of_tokens`, which dedups for set-similarity).
    The repetition filters need the multiset.

    ``toks`` MUST be a bound column: the lambda body references it
    (``F.slice``), and higher-order lambdas run interpreted, so an
    inlined ``tokens(text)`` would re-split once per gram — measured
    ~8× on q40 when this family first shipped against raw text.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def dup_gram_frac_of(toks: Column, n: int = 2) -> Column:
    """Duplicate word-n-gram fraction: 1 − distinct/total n-grams
    (Gopher's duplicate-n-gram family, A1.1). 0.0 for docs shorter
    than n words. ``toks`` must be a bound column (see
    :func:`raw_shingles_of_tokens`)."""
    grams = raw_shingles_of_tokens(toks, n)
    return F.when(
        F.size(grams) > 0,
        1.0 - F.size(F.array_distinct(grams)) * 1.0 / F.size(grams),
    ).otherwise(F.lit(0.0))


def dup_gram_frac(col: Column, n: int = 2) -> Column:
    """Convenience form over raw text — ONLY for small inputs: the
    token array is a subexpression here, so the per-gram slice
    re-splits the text (interpreted lambdas don't CSE). Hot paths
    project :func:`tokens` first and call :func:`dup_gram_frac_of`."""
    return dup_gram_frac_of(tokens(col), n)


def n_sentences(col: Column) -> Column:
    """Sentence count ≈ number of terminal-punctuation runs. The C4
    '≥3 sentences' rule's denominator."""
    return F.size(F.regexp_extract_all(col, F.lit("[.!?]+"), 0))


# PII patterns — ASCII-conservative so Java regex (Spark) and RE2
# (DuckDB oracle) agree byte-for-byte. Order matters for redaction:
# emails first (an email's host would otherwise half-match as a
# phone/ip), then ipv4, then phone.
PII_PATTERNS = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IPV4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("PHONE", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
]


# one alternation so counting is a single regex pass; Java regex and
# RE2 both resolve alternation leftmost-FIRST (not POSIX-longest), and
# matches consume text, so an email's host can't re-match as phone/ip
PII_ANY = "|".join(pat for _tag, pat in PII_PATTERNS)


def pii_count(col: Column) -> Column:
    """Total count of email / IPv4 / phone-shaped substrings (one
    combined-alternation scan; no substring is counted twice)."""
    return F.size(F.regexp_extract_all(col, F.lit(PII_ANY), 0))


def redact_pii(col: Column) -> Column:
    """Replace email / IPv4 / phone-shaped substrings with <TAG>
    placeholders, in :data:`PII_PATTERNS` order."""
    out = col
    for tag, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{tag}>")
    return out


def gopher_ok_of(toks: Column) -> Column:
    """Gopher quality-rule gate (Rae et al. 2021, appendix A1.1 —
    public thresholds) over a bound token-array column: 50 ≤ word
    count ≤ 100 000, 3 ≤ mean word length ≤ 10, ≥80% of words contain
    a letter, ≥2 stopword hits. (The repetition rules are exposed
    separately as :func:`rep_token_frac_of` / :func:`dup_gram_frac_of`
    so callers pick thresholds per corpus.)"""
    n_tok = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_len = total_len / n_tok
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return (
        (n_tok >= 50)
        & (n_tok <= 100_000)
        & (mean_len >= 3.0)
        & (mean_len <= 10.0)
        & (alpha_word_frac_of(toks) >= 0.8)
        & (n_stop >= 2)
    )


def gopher_ok(col: Column) -> Column:
    return gopher_ok_of(tokens(col))


def c4_ok(col: Column) -> Column:
    """C4 page-level cleanup gate (Raffel et al. 2020, §2.2 — public
    rules): ≥3 sentences, ≥5 words, no curly brace, no 'lorem
    ipsum'."""
    low = F.lower(col)
    return (
        (n_sentences(col) >= 3)
        & (token_count(col) >= 5)
        & ~low.contains("{")
        & ~low.contains("lorem ipsum")
    )


def doc_fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of casefolded, whitespace-collapsed
    text. The exact-dedup key.

    The whitespace class is spelled out (Java's \\s set) instead of
    ``\\s`` so the DuckDB oracle mirror (``workload.core.FP_SQL``,
    RE2 — whose \\s EXCLUDES vertical tab) collapses the identical
    character set; ``\\x0B`` docs would otherwise fingerprint
    differently across the engines."""
    return F.md5(
        F.regexp_replace(F.lower(F.trim(col)), r"[ \t\n\x0B\f\r]+", " ")
    )


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams over an ALREADY-MATERIALIZED token-array
    column — the unit of MinHash/Jaccard near-dedup and benchmark
    decontamination. Guarded so docs shorter than n words yield an
    empty array (F.sequence would otherwise run backwards).

    ``toks`` must be a bound column, not the raw ``tokens(text)``
    expression: higher-order lambdas run interpreted (outside codegen),
    so an inlined split would re-run once per gram — ~10× slower on
    50-token docs. Project ``tokens(text)`` to a column first.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles) — one distinct-shingle ARRAY per document, the
    shared front half of decontamination and candidate-pair
    verification (the exploded form is ``operators.dedup.shingle_table``).

    Two-step select on purpose: ``tokens(text)`` materializes as a
    column BEFORE the shingle lambda (higher-order transforms run
    interpreted, so an inlined split would re-run once per gram), and
    downstream code that both ``size()``-es and explodes the array
    must reference this one alias twice so CollapseProject cannot
    inline the expensive expression into a post-Generate projection.
    """
    return df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).select("id", shingles_of_tokens(F.col("toks"), n).alias("shingles"))


# ---- HTML → text extraction (round 10) ------------------------------
#
# The CommonCrawl-style step every LLM corpus pipeline runs before
# quality filtering: strip markup, recover visible text + structural
# signals. Regex-based fast path (what production trafilatura-lite
# passes do for the bulk tier), expressed entirely in JVM
# `regexp_replace`/`regexp_extract` so the whole extraction runs
# inside whole-stage codegen — and in the regex subset Java and RE2
# share EXACTLY (no backreferences — RE2 has none, so the script and
# style blocks strip in separate passes; lazy dot-all `.*?` and
# inline `(?is)` flags behave identically in both), which is what
# lets a DuckDB oracle mirror the extraction byte-for-byte.
#
# Documented limits of the fast path (the ones every regex extractor
# has): an attribute value containing a literal '>' truncates its
# tag; `\s` classes differ between engines on vertical-tab (U+000B),
# which the corpus model never emits. Entity decoding handles the
# named five (&lt; &gt; &quot; &nbsp; &amp;) with &amp; decoded LAST
# (the standard order: '&amp;lt;' → '&lt;', not '<'); numeric
# references pass through (a callback-free regex cannot decode them —
# real extractors use a table pass).

_HTML_BLOCK_STRIPS = [
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
]
_HTML_ENTITIES = [  # decode order matters: &amp; LAST
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    # documented limit: &nbsp; decodes to ASCII space (U+0020), not
    # NBSP (U+00A0) — real extractors (trafilatura et al.) emit NBSP.
    # Deliberate: Java's \s does not match U+00A0 while RE2's (?s)
    # handling differs too, so an NBSP surviving into the whitespace
    # collapse would diverge between the Spark side and the DuckDB
    # oracle mirror; the ASCII substitution keeps both engines (and
    # the collapse) byte-identical (round-10 advice: state it openly).
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def _strip_blocks(col: Column) -> Column:
    """Drop script/style/comment blocks — the shared first pass of
    every HTML signal (one definition, so the strip order can never
    desynchronize the text hash from the link/tag counts)."""
    out = col
    for pat in _HTML_BLOCK_STRIPS:
        out = F.regexp_replace(out, pat, " ")
    return out


def strip_html(col: Column) -> Column:
    """Visible text of an HTML document: script/style/comment blocks
    dropped, every remaining tag replaced by a space, the five named
    entities decoded, whitespace collapsed and trimmed."""
    out = F.regexp_replace(_strip_blocks(col), r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_title(col: Column) -> Column:
    """Contents of the first <title> element ('' when absent),
    whitespace-normalized like :func:`strip_html`."""
    raw = F.regexp_extract(col, r"(?is)<title[^>]*>(.*?)</title>", 1)
    return F.trim(F.regexp_replace(raw, r"\s+", " "))


def html_link_count(col: Column) -> Column:
    """Number of VISIBLE anchor openings (`<a ` / `<a>`) — counted
    after the block strips, so commented-out or script-embedded
    markup does not inflate the signal."""
    return F.size(
        F.regexp_extract_all(
            _strip_blocks(col), F.lit(r"(?i)<a[\s>]"), F.lit(0)
        )
    )


def html_tag_count(col: Column) -> Column:
    """Total tags outside stripped blocks — a boilerplate-density
    signal (markup-heavy pages score high tag/text ratios)."""
    return F.size(
        F.regexp_extract_all(
            _strip_blocks(col), F.lit(r"(?s)<[^>]+>"), F.lit(0)
        )
    )
