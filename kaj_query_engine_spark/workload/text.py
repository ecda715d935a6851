"""Text-analysis workload over the ``documents`` table — language ID,
quality scoring, token statistics, fingerprinting (north-star
extensions; no reference counterpart).

Oracle notes: ratios are raw int/int doubles (bit-identical across
engines — a single IEEE division), so no rounding is applied except
to q40's composite quality score, which both sides round to 6 places.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kaj_query_engine_spark.functions import text as TXT
from kaj_query_engine_spark.operators import pipeline as P
from kaj_query_engine_spark.workload.core import FP_SQL, t
from kaj_query_engine_spark.workload.registry import register

_SW = ", ".join(f"'{w}'" for w in TXT.EN_STOPWORDS)

# shared oracle fragments (DuckDB)
_TOKS = "string_split(trim(text), ' ')"
_NTOK = f"len({_TOKS})"
_NSTOP = f"len(list_filter({_TOKS}, x -> list_contains([{_SW}], x)))"
_AVGLEN = f"list_sum(list_transform({_TOKS}, x -> length(x))) * 1.0 / {_NTOK}"
_RATIO = f"({_NSTOP} * 1.0 / {_NTOK})"


_QUALITY = (
    f"least(1.0, {_NTOK} * 1.0 / 50.0) * 0.4 + {_RATIO} * 0.3 + "
    f"least(1.0, ({_AVGLEN}) / 8.0) * 0.3"
)

# quality-filter oracle fragments (mirroring functions/text.py's
# Gopher/C4/PII builders — see their docstrings for the published
# rules; patterns are ASCII-conservative so Java regex and RE2 agree)
_NALPHA = f"len(list_filter({_TOKS}, x -> regexp_matches(x, '[A-Za-z]')))"
_GRAMS2 = (
    f"list_transform(range(1, {_NTOK}), "
    f"i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1])"
)
_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PHONE = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
_NPII = f"len(regexp_extract_all(text, '{_EMAIL}|{_IPV4}|{_PHONE}'))"
_NSENT = "len(regexp_extract_all(text, '[.!?]+'))"
_GOPHER = (
    f"{_NTOK} >= 50 AND {_NTOK} <= 100000 AND ({_AVGLEN}) >= 3.0 "
    f"AND ({_AVGLEN}) <= 10.0 AND {_NALPHA} / {_NTOK} >= 0.8 "
    f"AND {_NSTOP} >= 2"
)
_C4 = (
    f"{_NSENT} >= 3 AND {_NTOK} >= 5 "
    "AND NOT contains(lower(text), '{') "
    "AND NOT contains(lower(text), 'lorem ipsum')"
)


# ---- CCNet LM perplexity columns (round 14) -------------------------
# A hashed bigram LM (Wenzek et al. 2020, arXiv:1911.00359) trained on
# the clean split (doc_id % 23 == 5 -- the same split DSIR targets)
# scores every doc in milli-bits per token transition (exact integer
# fixed point, operators/pipeline.log2_fp); ppl_keep is the
# data-relative CCNet cut -- keep docs at or below the corpus's exact
# integer MEAN score (a fixed absolute threshold is meaningless across
# corpus scales: the fixture LM's bits/transition drops ~8.7 -> ~6.1
# from sf0.01 to sf0.1 as the model sees more data).
_LM_B = 1024
_LM_MOD, _LM_REM = 23, 5

# count-table memo (the q48 bitset pattern): training the LM is an
# eager bounded Spark job, a pure function of the documents file --
# cache per fixture generation so bench cold+warm and the oracle gate
# pay it once
_LM_MEMO: dict[tuple, tuple[dict, dict]] = {}


def _lm_counts(spark, sf_dir: str, lm):
    from kaj_query_engine_spark.workload.core import source_token

    key = (sf_dir, source_token(f"{sf_dir}/documents.parquet"))
    if key not in _LM_MEMO:
        for stale in [k for k in _LM_MEMO if k[0] == sf_dir]:
            del _LM_MEMO[stale]
        _LM_MEMO[key] = P.lm_bigram_counts(lm, "doc_id", "text", _LM_B)
    return _LM_MEMO[key]


_Q40_PROF = (
    "SELECT doc_id, "
    f"CAST({_NTOK} AS INT) AS n_tokens, "
    "CAST(length(text) AS INT) AS n_chars, "
    f"CAST(list_sum(list_transform({_TOKS}, x -> length(x))) AS INT) "
    "* 1.0 / "
    f"CAST({_NTOK} AS INT) AS avg_token_len, "
    f"{_NSTOP} * 1.0 / {_NTOK} AS stop_ratio, "
    "CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INT) AS n_punct, "
    "CAST(len(regexp_extract_all(text, "
    "'''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +'"
    ")) AS INT) AS n_bpe, "
    f"{FP_SQL.format(col='text')} AS fp, "
    f"CASE WHEN ({_QUALITY}) >= 0.5 THEN round({_QUALITY}, 6) END AS quality, "
    f"CASE WHEN {_NTOK} > 0 THEN {_NALPHA} / {_NTOK} ELSE 0.0 END "
    "AS alpha_frac, "
    f"CASE WHEN {_NTOK} > 0 THEN "
    f"1.0 - len(list_distinct({_TOKS})) * 1.0 / {_NTOK} "
    "ELSE 0.0 END AS rep_frac, "
    f"CASE WHEN {_NTOK} >= 2 THEN "
    f"1.0 - len(list_distinct({_GRAMS2})) * 1.0 / ({_NTOK} - 1) "
    "ELSE 0.0 END AS dup2_frac, "
    f"CAST({_NSENT} AS INT) AS n_sent, "
    f"CAST({_NPII} AS INT) AS n_pii, "
    f"({_GOPHER}) AS gopher_ok, "
    f"({_C4}) AS c4_ok "
    "FROM documents"
)


def _q40_oracle() -> str:
    lm = P.lm_bpt_sql(
        "documents", "doc_id", "text",
        f"id % {_LM_MOD} = {_LM_REM}", _LM_B,
    )
    return (
        f"WITH {lm}, prof AS ({_Q40_PROF}), "
        "lmmean AS (SELECT CAST(FLOOR(CAST(sum(lm_bpt) AS DOUBLE) / "
        "count(*)) AS BIGINT) AS mu FROM lmscore) "
        "SELECT prof.*, lmscore.lm_bpt, "
        "CASE WHEN lmscore.lm_bpt IS NOT NULL THEN "
        "lmscore.lm_bpt <= (SELECT mu FROM lmmean) END AS ppl_keep "
        "FROM prof LEFT JOIN lmscore ON prof.doc_id = lmscore.id"
    )


@register(
    "q40_text_stats",
    _q40_oracle(),
    "per-document text profile in one scan: token/char counts, avg "
    "token length, stopword ratio, punctuation count, BPE-style "
    "pre-tokenizer count (GPT-2 regex pieces — the LLM-token budget "
    "estimator), the md5 content fingerprint, the composite "
    "quality score with its keep/drop gate (NULL = dropped), and the "
    "published-rule filter signals a pretraining pipeline gates on: "
    "alphabetic-word fraction, token/2-gram repetition ratios "
    "(Gopher's duplicate-content family), sentence count, PII "
    "match count (email/ipv4/phone), and the Gopher and C4 rule "
    "gates — all JVM-side exprs",
)
def q40(spark, sf_dir):
    # two-step select: ``tokens(text)`` materializes as a column FIRST
    # — the 2-gram builder's lambda body slices the token array, and
    # interpreted lambdas don't CSE, so an inlined split re-runs once
    # per gram (measured 8× on this query; same hazard as
    # functions/text.shingle_arrays)
    d = t(spark, sf_dir, "documents")
    cu, cb = _lm_counts(
        spark, sf_dir,
        d.filter(F.pmod(F.col("doc_id"), F.lit(_LM_MOD)) == _LM_REM),
    )
    # small-input / large-compute shape (same as dedup.shingle_table):
    # the per-row regex+lambda work dwarfs the scan, and a few-MB
    # parquet file arrives as ONE split, serializing all of it on a
    # single core — spread over cluster parallelism first. CONDITIONAL
    # since round 14 (the operators/pipeline._spread rule): when the
    # source file count is already cluster-wide — the 100 TB case —
    # the repartition would shuffle the corpus text for nothing, so it
    # is skipped; the per-doc profile is partitioning-invariant.
    # inputFiles() probes the logical plan only — df.rdd would force
    # an extra physical-plan compile (see pipeline._spread)
    n_parts = spark.sparkContext.defaultParallelism
    txt = F.col("text")
    spread = (
        d if len(d.inputFiles()) >= n_parts
        else d.repartition(n_parts, F.col("doc_id"))
    )
    step = spread.select(
        "doc_id", "text", TXT.tokens(txt).alias("toks")
    )
    toks = F.col("toks")
    n_tok = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    avg_len = total_len / n_tok
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*TXT.EN_STOPWORDS)))
    stop_ratio = n_stop / n_tok
    raw = (
        F.least(F.lit(1.0), n_tok.cast("double") / F.lit(50.0)) * 0.4
        + stop_ratio * 0.3
        + F.least(F.lit(1.0), avg_len / F.lit(8.0)) * 0.3
    )
    low = F.lower(txt)
    _q40_profile = step.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        TXT.char_count(txt).alias("n_chars"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stop_ratio"),
        TXT.punct_count(txt).alias("n_punct"),
        TXT.bpe_ish_token_count(txt).alias("n_bpe"),
        TXT.doc_fingerprint(txt).alias("fp"),
        F.when(raw >= 0.5, F.round(raw, 6)).alias("quality"),
        TXT.alpha_word_frac_of(toks).alias("alpha_frac"),
        TXT.rep_token_frac_of(toks).alias("rep_frac"),
        TXT.dup_gram_frac_of(toks, 2).alias("dup2_frac"),
        TXT.n_sentences(txt).cast("int").alias("n_sent"),
        TXT.pii_count(txt).cast("int").alias("n_pii"),
        TXT.gopher_ok_of(toks).alias("gopher_ok"),
        (
            (TXT.n_sentences(txt) >= 3)
            & (n_tok >= 5)
            & ~low.contains("{")
            & ~low.contains("lorem ipsum")
        ).alias("c4_ok"),
        P.lm_bpt_expr("text", cu, cb, _LM_B).alias("lm_bpt"),
    )
    # the CCNet cut is data-relative: one exact-integer mean over the
    # scored docs (1-row agg, broadcast — the q43 budget shape), then
    # keep = at-or-below-mean; NULL rides through for n_tokens < 2
    prof = _q40_profile
    mu = prof.agg(
        F.floor(
            F.sum("lm_bpt").cast("double") / F.count("lm_bpt")
        ).cast("long").alias("mu")
    )
    return prof.crossJoin(F.broadcast(mu)).select(
        *[c for c in prof.columns],
        F.when(
            F.col("lm_bpt").isNotNull(), F.col("lm_bpt") <= F.col("mu")
        ).alias("ppl_keep"),
    )


@register(
    "q46_profile_topk",
    "SELECT col, val, n FROM ("
    "SELECT col, val, n, row_number() OVER ("
    "PARTITION BY col ORDER BY n DESC, val) AS rk FROM ("
    "SELECT 'lang' AS col, lang AS val, count(*) AS n FROM documents GROUP BY 2 "
    "UNION ALL "
    "SELECT 'source', source, count(*) FROM documents GROUP BY 2 "
    "UNION ALL "
    "SELECT 'lang_pred', CASE "
    f"WHEN {_RATIO} >= 0.10 THEN 'en' "
    f"WHEN {_RATIO} >= 0.04 THEN 'mixed' "
    "ELSE 'other' END, count(*) FROM documents GROUP BY 2)) "
    "WHERE rk <= 3",
    "data profiling: exact top-3 most frequent values per categorical "
    "column (count + per-column row_number; ties broken by value) — "
    "including the computed stopword-density language-ID heuristic "
    "(lang_pred), so the language classifier's distribution is checked "
    "alongside the stored columns",
)
def q46(spark, sf_dir):
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    cols = [
        ("lang", F.col("lang")),
        ("source", F.col("source")),
        ("lang_pred", TXT.lang_guess(F.col("text"))),
    ]
    counted = None
    for name, expr in cols:
        c = d.groupBy(F.lit(name).alias("col"), expr.alias("val")).agg(
            F.count(F.lit(1)).alias("n")
        )
        counted = c if counted is None else counted.unionByName(c)
    w = W.partitionBy("col").orderBy(F.desc("n"), F.asc("val"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("col", "val", "n")
    )


# --------------------------------------------------------------------
# q41: BPE tokenizer — train on the corpus, encode the corpus
# --------------------------------------------------------------------

# Shared BPE hyper-parameters: the learner (materialized_bpe_model)
# and the DuckDB oracle below must agree or the merge tables diverge.
_BPE_NUM_MERGES = 256
_BPE_MAX_PIECES = 50_000

# The Sennrich merge procedure IS SQL-expressible: it is a
# deterministic fold over the vocabulary-bounded (piece, freq) table,
# so a recursive CTE reconstructs the ENTIRE learned tokenizer —
# one merge selection (argmax pair count, ties by count DESC then
# lexicographically least pair, exactly operators/bpe.py:learn_bpe)
# and one greedy left-to-right pair rewrite per level. The rewrite's
# only sequential wrinkle — overlapping candidates in runs of a
# repeated symbol, where greedy takes every OTHER occurrence — is a
# gaps-and-islands window (chain id = count of non-candidates before
# me; take odd positions within the chain). The per-document token
# counts then fall out of the final level's symbolizations: encoding
# a piece by rank-priority apply (operators/bpe.py:_encode_piece)
# equals the learner's final state for every trained piece (the
# classical BPE apply/train equivalence, differentially pinned in
# tests/test_bpe.py), so `n_bpe_tokens` = sum of final symbol counts
# over the document's pieces. The `kept` flag scopes pair COUNTING to
# the top max_pieces slice while the rewrite maintains encode state
# for all pieces — mirroring the learner's truncation semantics.
# Verified exactly equal to the Spark output (all 1130 rows: 127
# merges + 3 coverage + 500 doc + 500 pieces) at sf0.001 and sf0.01.
_BPE_PAT = TXT.BPE_ISH_PATTERN  # ASCII-only: Java-regex == RE2 exactly
_Q41_ORACLE = f"""
WITH RECURSIVE
pf AS (
  SELECT piece, count(*)::BIGINT AS freq
  FROM (SELECT unnest(regexp_extract_all(text, $pat${_BPE_PAT}$pat$)) AS piece
        FROM documents)
  GROUP BY piece
),
ranked AS (
  SELECT piece, freq,
         row_number() OVER (ORDER BY freq DESC, piece ASC)
           <= {_BPE_MAX_PIECES} AS kept
  FROM pf
),
st AS (
  SELECT 0 AS iter, piece, regexp_extract_all(piece, '(?s).') AS syms,
         freq, kept,
         NULL::VARCHAR AS ma, NULL::VARCHAR AS mb, NULL::BIGINT AS mc
  FROM ranked
  UNION ALL
  SELECT * FROM (
    WITH lvl AS (SELECT iter, piece, syms, freq, kept FROM st
                 WHERE iter < {_BPE_NUM_MERGES}),
    pairs AS (
      SELECT syms[i] AS a, syms[i+1] AS b, sum(freq)::BIGINT AS c
      FROM lvl, LATERAL (SELECT unnest(range(1, len(syms))) AS i) r
      WHERE kept
      GROUP BY 1, 2
    ),
    best AS (SELECT a, b, c FROM pairs ORDER BY c DESC, a ASC, b ASC LIMIT 1),
    ex AS (
      SELECT l.piece, l.freq, l.kept, l.iter, r.i, l.syms[r.i] AS s,
             coalesce(l.syms[r.i] = best.a AND l.syms[r.i+1] = best.b,
                      false) AS cand,
             best.a AS ba, best.b AS bb, best.c AS bc
      FROM lvl l CROSS JOIN best,
           LATERAL (SELECT unnest(range(1, len(l.syms)+1)) AS i) r
    ),
    chains AS (
      SELECT *, count(*) FILTER (WHERE NOT cand)
                  OVER (PARTITION BY piece ORDER BY i) AS grp
      FROM ex
    ),
    marked AS (
      SELECT *, cand AND (row_number()
                  OVER (PARTITION BY piece, grp, cand ORDER BY i) % 2 = 1)
                AS taken
      FROM chains
    ),
    withprev AS (
      SELECT *, lag(taken, 1, false)
                  OVER (PARTITION BY piece ORDER BY i) AS prev_taken
      FROM marked
    )
    SELECT max(iter) + 1 AS iter, piece,
           list(CASE WHEN taken THEN ba || bb ELSE s END ORDER BY i)
             FILTER (WHERE NOT prev_taken) AS syms,
           max(freq) AS freq, bool_or(kept) AS kept,
           max(ba) AS ma, max(bb) AS mb, max(bc) AS mc
    FROM withprev
    GROUP BY piece
  )
),
merges AS (
  SELECT DISTINCT iter - 1 AS rank, ma, mb, mc FROM st WHERE iter > 0
),
final AS (
  SELECT piece, syms FROM st WHERE iter = (SELECT max(iter) FROM st)
),
dt AS (
  SELECT doc_id, unnest(regexp_extract_all(text, $pat${_BPE_PAT}$pat$)) AS piece
  FROM documents
),
doc_counts AS (
  SELECT d.doc_id,
         count(p.piece)::BIGINT AS n_pieces,
         coalesce(sum(len(f.syms)), 0)::BIGINT AS n_bpe
  FROM documents d
  LEFT JOIN dt p ON p.doc_id = d.doc_id
  LEFT JOIN final f ON f.piece = p.piece
  GROUP BY d.doc_id
)
SELECT 'merge' AS path, rank::BIGINT AS id, ma AS a, mb AS b, mc AS n
FROM merges
UNION ALL
SELECT 'coverage', -1, 'kept_mass', NULL,
       coalesce(sum(freq) FILTER (WHERE kept), 0)::BIGINT FROM ranked
UNION ALL
SELECT 'coverage', -2, 'dropped_mass', NULL,
       coalesce(sum(freq) FILTER (WHERE NOT kept), 0)::BIGINT FROM ranked
UNION ALL
SELECT 'coverage', -3, 'dropped_pieces', NULL,
       count(*) FILTER (WHERE NOT kept)::BIGINT FROM ranked
UNION ALL
SELECT 'doc', doc_id, NULL, NULL, n_bpe FROM doc_counts
UNION ALL
SELECT 'pieces', doc_id, NULL, NULL, n_pieces FROM doc_counts
"""


def materialized_bpe_model(spark, sf_dir):
    """Write-once learned BPE model behind the q35-style staleness
    token (the q63 materialized-IVF economics applied to vocabulary):
    the corpus-wide piece count + driver-side learn run ONCE per
    fixture generation; every later call loads the 256-row merge
    table from parquet. Returns (BpeModel, merges DataFrame)."""
    from kaj_query_engine_spark.operators import bpe as B
    from kaj_query_engine_spark.workload.scale import (
        _SCRATCH,
        _layout_current,
        _layout_token,
        _stamp_layout,
        _tag,
    )

    num_merges, max_pieces = _BPE_NUM_MERGES, _BPE_MAX_PIECES
    src = f"{sf_dir}/documents.parquet"
    path = str(_SCRATCH / _tag(sf_dir) / "bpe_model")
    token = _layout_token(src, f"bpe:{num_merges}:{max_pieces}:v1")
    if not _layout_current(token, path):
        model = B.learn_bpe(
            B.piece_frequencies(t(spark, sf_dir, "documents"), "text"),
            num_merges=num_merges,
            max_pieces=max_pieces,
        )
        rows = [
            (i, a, b, int(c))
            for i, ((a, b), c) in enumerate(
                zip(model.merges, model.merge_counts)
            )
        ] + [
            (-1, "kept_mass", "", model.kept_mass),
            (-2, "dropped_mass", "", model.dropped_mass),
            (-3, "dropped_pieces", "", model.dropped_pieces),
        ]
        spark.createDataFrame(
            rows, "rank int, left string, right string, n long"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        _stamp_layout(token, path)
    mdf = spark.read.parquet(path)
    meta = {r.left: r.n for r in mdf.filter(F.col("rank") < 0).collect()}
    merges = mdf.filter(F.col("rank") >= 0).orderBy("rank").collect()
    from kaj_query_engine_spark.operators.bpe import BpeModel

    model = BpeModel(
        merges=tuple((r.left, r.right) for r in merges),
        merge_counts=tuple(r.n for r in merges),
        kept_mass=meta["kept_mass"],
        dropped_mass=meta["dropped_mass"],
        dropped_pieces=meta["dropped_pieces"],
    )
    return model, mdf


@register(
    "q41_bpe_tokenizer",
    _Q41_ORACLE,  # the full recursive-CTE reconstruction above —
    # the tokenizer is no longer rows-only: every branch (merges,
    # coverage, per-doc counts) is hash-checked against DuckDB, on
    # top of the differential pytest pins (tests/test_bpe.py:
    # independent apply-in-rank-order encoder, hand-computed merges,
    # partitioning-invariance)
    "real BPE tokenizer: merges learned from the corpus's "
    "piece-frequency table (Sennrich-style — the corpus pivots "
    "through ONE vocabulary-bounded shuffle, Heaps' law keeps the "
    "driver table small, truncation mass REPORTED in 'coverage' "
    "rows), then per-doc token counts via broadcast ranks + one "
    "Arrow mapInPandas with a per-batch Zipf piece cache. Branches: "
    "'merge' (the learned vocabulary itself, rank order), 'coverage' "
    "(kept/dropped occurrence mass — no silent caps), 'doc' "
    "(n_bpe_tokens per document), 'pieces' (pre-token count per "
    "document). Model materialized write-once behind the staleness "
    "token (q63 index economics)",
)
def q41(spark, sf_dir):
    from kaj_query_engine_spark.operators import bpe as B

    model, mdf = materialized_bpe_model(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    counts = B.encode_token_counts(d, "doc_id", "text", model)
    merges = mdf.filter(F.col("rank") >= 0).select(
        F.lit("merge").alias("path"),
        F.col("rank").cast("long").alias("id"),
        F.col("left").alias("a"),
        F.col("right").alias("b"),
        F.col("n"),
    )
    coverage = mdf.filter(F.col("rank") < 0).select(
        F.lit("coverage").alias("path"),
        F.col("rank").cast("long").alias("id"),
        F.col("left").alias("a"),
        F.lit(None).cast("string").alias("b"),
        F.col("n"),
    )
    # ONE encode pass feeds both per-doc branches: stack() unpivots
    # (n_bpe_tokens, n_pieces) into tagged rows map-side, so the
    # corpus crosses the Arrow boundary once, not once per branch
    per_doc = counts.select(
        F.expr(
            "stack(2, 'doc', n_bpe_tokens, 'pieces', n_pieces) AS (path, n)"
        ),
        F.col("doc_id").alias("id"),
    ).select(
        "path",
        "id",
        F.lit(None).cast("string").alias("a"),
        F.lit(None).cast("string").alias("b"),
        "n",
    )
    return merges.unionAll(coverage).unionAll(per_doc)


# ---- q21: HTML → text extraction ------------------------------------
#
# The CommonCrawl-style markup-stripping step that precedes every
# quality filter in an LLM corpus pipeline. The fixture corpus is
# plain text, so the query WRAPS each document into a deterministic
# HTML page first (title carrying an entity, a script block whose
# body contains bare '<'/'>' — the case that distinguishes
# script-strip-before-tag-strip from the broken order — a comment
# hiding markup, per-doc link repetition, entity-quoted body) and
# then extracts: both the wrap and the extraction are mirrored in the
# oracle, so the digest match pins every regex rule and the
# strip/decode ORDERING byte-for-byte. All pure JVM expressions —
# map-only, no UDF, no join, no exchange.
_H_ANCHOR = '<a href="https://ex.com/x?a=1&amp;b=2">nav</a>'
_H_SCRIPT = '<script type="text/javascript">var x = "1 < 2 && 3 > 2";</script>'
_H_COMMENT = "<!-- <p>not text</p> -->"


def _html_wrap_spark(doc_id, text):
    did = doc_id.cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit(" &amp; friends</title><style>p{color:red}</style>"),
        F.lit(_H_SCRIPT),
        F.lit("</head><body>"), F.lit(_H_COMMENT),
        F.lit('<h1 class="main">Doc '), did, F.lit("</h1>"),
        F.expr(
            "repeat('"
            + _H_ANCHOR.replace("'", "''")
            + "', CAST(doc_id % 3 + 1 AS INT))"
        ),
        F.lit("<p>&quot;"), text, F.lit("&quot; &lt;eof&gt;&nbsp;</p>"),
        F.lit("</body></html>"),
    )


_H_WRAP_SQL = (
    "'<html><head><title>Doc ' || doc_id || ' &amp; friends</title>"
    "<style>p{color:red}</style>"
    + _H_SCRIPT.replace("'", "''")
    + "</head><body>" + _H_COMMENT
    + "<h1 class=\"main\">Doc ' || doc_id || '</h1>' || "
    + "repeat('" + _H_ANCHOR.replace("'", "''") + "', doc_id % 3 + 1)"
    + " || '<p>&quot;' || text || '&quot; &lt;eof&gt;&nbsp;</p>"
    "</body></html>'"
)

# extraction mirror (DuckDB): same passes, same order as
# functions.text.strip_html — block strips, tag strip, entity decode
# (&amp; last), whitespace collapse
_H_STRIPS_SQL = (
    "regexp_replace(regexp_replace(regexp_replace({h}, "
    "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), "
    "'(?is)<style[^>]*>.*?</style>', ' ', 'g'), "
    "'(?s)<!--.*?-->', ' ', 'g')"
)
_H_TEXT_SQL = (
    "trim(regexp_replace("
    "replace(replace(replace(replace(replace("
    "regexp_replace(" + _H_STRIPS_SQL + ", '(?s)<[^>]+>', ' ', 'g'), "
    "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&nbsp;', ' '), "
    "'&amp;', '&'), "
    "'\\s+', ' ', 'g'))"
)
_H_ORACLE = (
    f"WITH h AS (SELECT doc_id, {_H_WRAP_SQL} AS html FROM documents), "
    "x AS (SELECT doc_id, "
    "trim(regexp_replace(regexp_extract(html, "
    "'(?is)<title[^>]*>(.*?)</title>', 1), '\\s+', ' ', 'g')) AS title, "
    "CAST(len(regexp_extract_all(" + _H_STRIPS_SQL.format(h="html")
    + ", '(?i)<a[\\s>]')) AS INT) AS n_links, "
    "CAST(len(regexp_extract_all(" + _H_STRIPS_SQL.format(h="html")
    + ", '(?s)<[^>]+>')) AS INT) AS n_tags, "
    + _H_TEXT_SQL.format(h="html") + " AS clean FROM h) "
    "SELECT doc_id, title, n_links, n_tags, md5(clean) AS text_hash, "
    "CAST(length(clean) AS INT) AS n_chars FROM x"
)


@register(
    "q21_html_extract",
    _H_ORACLE,
    "HTML-to-text extraction (the markup-strip tier before quality "
    "filtering): each document wrapped into a deterministic page — "
    "entity-bearing title, a script whose body contains bare '<'/'>' "
    "(distinguishes script-strip-before-tag-strip from the broken "
    "order), comment-hidden markup, per-doc link repetition, "
    "entity-quoted body — then stripped with the shared-regex-subset "
    "rules (no backreferences, so Java and RE2 agree exactly): block "
    "strips, tag strip, five named entities decoded with &amp; LAST, "
    "whitespace collapse. Emits per-doc title / link count / tag "
    "count / md5(visible text); the oracle mirrors wrap AND extract, "
    "so the hash pins every rule and ordering. Pure JVM regex — "
    "map-only, zero joins, zero exchanges",
)
def q21(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", _html_wrap_spark(F.col("doc_id"), F.col("text")).alias("html")
    )
    clean = TXT.strip_html(F.col("html"))
    return h.select(
        "doc_id",
        TXT.html_title(F.col("html")).alias("title"),
        TXT.html_link_count(F.col("html")).alias("n_links"),
        TXT.html_tag_count(F.col("html")).alias("n_tags"),
        F.md5(clean).alias("text_hash"),
        F.length(clean).alias("n_chars"),
    )
