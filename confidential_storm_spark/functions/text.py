"""Text analysis column functions (SURVEY §2.3 P1 + training-data ops).

Everything here is built-in-function based (JVM-side, codegen) — no
Python UDFs — and each has an exact ANSI-SQL twin for the DuckDB
oracle.  The word split mirrors the reference's sentence-split bolt:
split on ``\\W+``, lowercase, drop empties
(SplitSentenceServiceProvider.java:62-65).
"""

from __future__ import annotations

import unicodedata

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "words",
    "bigram_cross_entropy",
    "bigram_cross_entropy_sql",
    "clean_text",
    "clean_text_sql",
    "nfc_lower",
    "nfc_lower_sql",
    "explode_words",
    "token_count",
    "quality_features",
    "repetition_signals",
    "repetition_signals_sql",
    "lang_id",
    "lang_pred_expr",
    "fingerprint",
    "STOPWORDS",
    "LANG_MARKERS",
    "FP_PRIME",
    "FP_MULTIPLIER",
]

# small deterministic stopword list for quality scoring
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# marker words per language for the keyword language-ID heuristic;
# deterministic tie-break = this ordering.  (The driver corpus shares
# one 31-word vocabulary across lang labels, so markers are drawn from
# that vocabulary — the operator shape is what matters, and accuracy
# is reported against the labeled `lang` column.)
LANG_MARKERS = {
    "en": ("the", "order", "table"),
    "de": ("join", "row", "hash"),
    "fr": ("scan", "data", "query"),
    "es": ("slow", "agg", "merge"),
    "zh": ("small", "column", "value"),
}

# rolling-hash fingerprint parameters (Mersenne prime 2^31-1 keeps all
# intermediates < 2^36, exact in both Spark LONG and DuckDB BIGINT)
FP_PRIME = 2_147_483_647
FP_MULTIPLIER = 31


def words(text: Column) -> Column:
    """Array of lowercase words: split on non-word runs, drop empties."""
    return F.filter(F.split(F.lower(text), "\\W+"), lambda w: F.length(w) > 0)


# the standard ingestion clean-up, as a chain of pure character-class
# regexes (identical semantics in Java regex and RE2, so the DuckDB
# twin reproduces byte-identical output):
#   1. drop control chars except \t \n   2. \r\n, \r -> \n
#   3. collapse space/tab runs            4. cap blank-line runs at one
#   5. trim outer whitespace
_CLEAN_STEPS: list[tuple[str, str]] = [
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),
    (r"\r\n?", "\n"),
    (r"[ \t]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
    # \s-trim, not trim(): both engines' trim() strips spaces only,
    # the curation contract strips ALL outer whitespace incl. newlines
    (r"^\s+|\s+$", ""),
]


def clean_text(text: Column) -> Column:
    """Normalized document text — the curation pipeline's first stage
    (strip control bytes, canonicalize newlines, collapse whitespace
    runs, trim all outer whitespace).  Pure Catalyst
    ``regexp_replace`` chain: codegens fused with the scan, linear in
    bytes, no UDF."""
    out = text
    for pat, rep in _CLEAN_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def clean_text_sql() -> str:
    """DuckDB twin of :func:`clean_text` over ``text`` (RE2 needs the
    explicit 'g' flag — DuckDB replaces only the first match by default)."""
    out = "text"
    for pat, rep in _CLEAN_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


# ---------------------------------------------------------------------------
# Unicode canonicalization for dedup keys
# ---------------------------------------------------------------------------


def nfc_lower(text: Column) -> Column:
    """Unicode-canonical dedup key: NFC normalization + lowercase.

    Visually identical strings differ at the byte level in any real
    crawl (precomposed vs combining accents: 'é' U+00E9 vs 'e'+U+0301)
    — exact dedup on raw bytes misses those copies.  NFC is the
    canonical composition both Python's unicodedata and DuckDB's
    utf8proc (``nfc_normalize``) implement; lower() (NOT casefold —
    casefold's ß→ss expansion has no SQL twin) matches the engines'
    unicode-aware lower.  Spark has no NFC builtin, so this is an
    Arrow-batched UDF; it belongs BEFORE the md5 in a dedup key, a
    map stage fused into the scan-side of the digest shuffle.
    (UDF built at call time — module import stays session-free.)"""

    @pandas_udf("string")
    def _nfc(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: unicodedata.normalize("NFC", t).lower() if t is not None else None
        )

    return _nfc(text)


def nfc_lower_sql(col: str = "text") -> str:
    """DuckDB twin (utf8proc NFC; identical on every assigned
    codepoint both libraries' Unicode versions share)."""
    return f"lower(nfc_normalize({col}))"


def explode_words(df: DataFrame) -> DataFrame:
    """P1: one row per word of ``text``, in column ``word`` (the
    reference emits one tuple per word with count=1;
    SplitSentenceBolt.java:36-56)."""
    return df.withColumn("word", F.explode(words(F.col("text"))))


def token_count(text: Column) -> Column:
    """Whitespace-ish token count (JVM-side)."""
    return F.size(words(text))


def quality_features(df: DataFrame) -> DataFrame:
    """Quality-scoring features of ``text`` per ``doc_id`` for
    training-data filtering: token count, mean token length, stopword
    ratio, alpha ratio."""
    ws = words(F.col("text"))
    n_tokens = F.size(ws)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    n_chars = F.length(F.col("text"))
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(
            F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
            / F.greatest(n_tokens, F.lit(1)),
            6,
        ).alias("mean_token_len"),
        F.round(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 6).alias(
            "stopword_ratio"
        ),
        F.round(n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)), 6).alias(
            "alpha_ratio"
        ),
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    arXiv:2112.11446 §A1.1 — the standard LLM-data repetition
    filters): per document ``doc_id`` of ``text``,

    - ``dup_word_frac``  = 1 - distinct_words / total_words
    - ``top_word_frac``  = occurrences of the most common word / total
    - ``top_bigram_frac`` = occurrences of the most common word bigram
      / total bigrams (0 for docs with < 2 words)

    Scale shape: explode -> two-level groupBy — partial aggregation
    (map-side combine) collapses each doc's words before the shuffle,
    so shuffle volume is O(distinct words per doc), and both groupBys
    hash-partition on ``doc_id`` so the second reuses the first's
    partitioning.  No Python, no per-row HOF quadratics."""
    ws = words(F.col("text"))
    base = df.select(F.col("doc_id"), ws.alias("_ws"))
    uni = (
        base.select("doc_id", F.explode("_ws").alias("_w"))
        .groupBy("doc_id", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("_n"),
            F.max("_c").alias("_m"),
            F.count(F.lit(1)).alias("_d"),
        )
    )
    bigrams = F.when(
        F.size("_ws") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_ws") - 1),
            lambda i: F.concat(
                F.element_at(F.col("_ws"), i), F.lit(" "), F.element_at(F.col("_ws"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        base.select("doc_id", F.explode(bigrams).alias("_b"))
        .groupBy("doc_id", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(F.sum("_c").alias("_bn"), F.max("_c").alias("_bm"))
    )
    return (
        df.select("doc_id")
        .join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(
                    F.lit(1.0) - F.col("_d").cast("double") / F.col("_n"), F.lit(0.0)
                ),
                6,
            ).alias("dup_word_frac"),
            F.round(
                F.coalesce(F.col("_m").cast("double") / F.col("_n"), F.lit(0.0)), 6
            ).alias("top_word_frac"),
            F.round(
                F.coalesce(F.col("_bm").cast("double") / F.col("_bn"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
        )
    )


def repetition_signals_sql() -> str:
    """DuckDB twin of :func:`repetition_signals` over ``documents``."""
    ws = words_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {ws} AS ws FROM documents),
u AS (SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY doc_id, w),
us AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, MAX(c) AS m, COUNT(*) AS d
       FROM u GROUP BY doc_id),
bg AS (SELECT doc_id,
              CASE WHEN len(ws) >= 2
                   THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                   ELSE [] END AS bs
       FROM t),
b AS (SELECT doc_id, bb, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(bs) AS bb FROM bg) GROUP BY doc_id, bb),
bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bn, MAX(c) AS bm
       FROM b GROUP BY doc_id)
SELECT t.doc_id,
       ROUND(COALESCE(1.0 - CAST(us.d AS DOUBLE) / us.n, 0.0), 6) AS dup_word_frac,
       ROUND(COALESCE(CAST(us.m AS DOUBLE) / us.n, 0.0), 6) AS top_word_frac,
       ROUND(COALESCE(CAST(bs.bm AS DOUBLE) / bs.bn, 0.0), 6) AS top_bigram_frac
FROM t LEFT JOIN us ON t.doc_id = us.doc_id LEFT JOIN bs ON t.doc_id = bs.doc_id
ORDER BY t.doc_id
"""


def lang_pred_expr(text: Column) -> tuple[Column, Column]:
    """``(pred_lang, best_score)`` as PURE per-row expressions:
    score = marker-word hits per language, argmax with the
    first-language-in-LANG_MARKERS tie-break.  Used by
    :func:`lang_id` and inlined by the curation funnel / streaming
    curation (no join needed)."""
    ws = words(text)
    scores = {
        lang: F.size(
            F.filter(ws, lambda w: F.array_contains(F.array(*map(F.lit, markers)), w))
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = None
    for lang in LANG_MARKERS:
        cond = scores[lang] == best
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return pred, best


def lang_id(df: DataFrame) -> DataFrame:
    """Keyword-marker language ID of ``text``: score = number of
    marker-word hits per language; argmax with deterministic tie-break
    order.  Returns ``doc_id``, the labelled ``lang`` as ``true_lang``,
    ``pred_lang`` and ``best_score``."""
    pred, best = lang_pred_expr(F.col("text"))
    return df.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        pred.alias("pred_lang"),
        best.alias("best_score"),
    )


def _word_hash(w: Column) -> Column:
    """Deterministic word -> int in [0, 2^31): first 8 hex chars of
    md5, identical in DuckDB as CAST('0x'||substr(md5(w),1,8) AS BIGINT),
    folded below FP_PRIME."""
    return F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long") % FP_PRIME


def fingerprint(text: Column) -> Column:
    """Document fingerprint: polynomial rolling hash over the word
    sequence, ``h = (h * 31 + hash(w)) mod (2^31 - 1)``."""
    return F.aggregate(
        words(text),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * FP_MULTIPLIER + _word_hash(w)) % FP_PRIME,
    )


# ---------------------------------------------------------------------------
# ANSI-SQL twins (DuckDB oracle fragments)
# ---------------------------------------------------------------------------

WORDS_SQL = (
    "list_filter(regexp_split_to_array(lower({col}), '\\W+'), w -> len(w) > 0)"
)


def words_sql(col: str = "text") -> str:
    return WORDS_SQL.format(col=col)


def fingerprint_sql() -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({words_sql('text')}, "
        f"w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {FP_PRIME})), "
        f"(acc, h) -> (acc * {FP_MULTIPLIER} + h) % {FP_PRIME})"
    )


# ---------------------------------------------------------------------------
# BPE-ish regex tokenizer (training-data token counting)
# ---------------------------------------------------------------------------

# GPT-2-style pretokenization pattern, restricted to a lookahead-free
# ASCII form so Java regex (Spark), RE2 (DuckDB) and Python `re` all
# match identically: contraction suffixes, space-prefixed letter runs,
# space-prefixed digit runs, punctuation runs, whitespace runs.
# Whitespace is the EXPLICIT class [ \t\n\r\f] (not \s): Java's \s
# includes \x0B, RE2's does not, and Python's is Unicode-aware — the
# explicit class is the only form all three engines read identically.
BPE_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+"
    r"| ?[^ \t\n\r\fa-zA-Z0-9']+|[ \t\n\r\f]+"
)


# the whitespace-run alternative of BPE_PATTERN, used to DROP those
# matches.  An explicit class again (not trim()): Spark's trim strips
# only ASCII space while DuckDB's strips Unicode spaces, so trim-based
# filtering diverges on U+00A0-style input.
_BPE_WS_RUN = r"[ \t\n\r\f]+"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pretokens (whitespace-run matches dropped) — the token
    unit an LLM-data pipeline budgets by."""
    return F.filter(
        F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0),
        lambda t: ~t.rlike(f"^{_BPE_WS_RUN}$"),
    )


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def bpe_tokens_sql(col: str = "text") -> str:
    """DuckDB twin (identical RE2-compatible pattern + filter)."""
    pat = BPE_PATTERN.replace("'", "''")
    return (
        f"list_filter(regexp_extract_all({col}, '{pat}'), "
        f"t -> NOT regexp_full_match(t, '{_BPE_WS_RUN}'))"
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS scheme)
# ---------------------------------------------------------------------------


# char k-gram length and window size of the winnowing fingerprints
WINNOW_K = 5
WINNOW_W = 4


def _winnow_norm(text: Column) -> Column:
    """Winnowing normalization: lowercase, strip non-alphanumerics
    (whitespace/punct-insensitive matching)."""
    return F.regexp_replace(F.lower(text), "[^a-z0-9]", "")


def winnow_grams(text: Column) -> Column:
    """Step 1 of winnowing: hashes of every char k-gram of the
    normalized text (md5-prefix mod p, oracle-reproducible).  Docs
    shorter than k chars get an empty array.  (Spark's
    ``sequence(1, 0)`` DESCENDS instead of yielding empty, hence the
    explicit ``when`` guard.)"""
    k = WINNOW_K
    norm = _winnow_norm(text)
    n_grams = F.length(norm) - (k - 1)
    return F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.conv(F.substring(F.md5(F.substr(norm, i, F.lit(k))), 1, 8), 16, 10)
            .cast("long") % FP_PRIME,
        ),
    ).otherwise(F.array().cast("array<long>"))


def winnow_from_grams(grams: Column) -> Column:
    """Step 2 of winnowing: slide a w-window over the gram-hash array,
    keep each window's minimum, dedupe, sort.  Guarantees any shared
    substring of length >= w + k - 1 shares a fingerprint — the
    standard sublinear document signature for near-dup detection.
    Fewer than w grams contribute one whole-sequence window.

    IMPORTANT: pass a MATERIALIZED column (``withColumn`` the grams
    first) — Spark evaluates higher-order lambdas interpreted and
    re-embeds the argument expression once per window, so an inline
    :func:`winnow_grams` argument turns quadratic in doc length."""
    w = WINNOW_W
    n_windows = F.greatest(F.size(grams) - (w - 1), F.least(F.size(grams), F.lit(1)))
    return F.when(
        F.size(grams) >= 1,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
                    lambda j: F.array_min(F.slice(grams, j, w)),
                )
            )
        ),
    ).otherwise(F.array().cast("array<long>"))


def winnow_udf(text: Column) -> Column:
    """Arrow-batched twin of the two-step winnowing producing IDENTICAL
    fingerprints (md5-prefix gram hashes, per-window min, distinct,
    sorted).  The expression form runs Spark's interpreted lambda
    machinery per window (~2 ms/doc); this runs the loop in
    numpy/hashlib ~20x faster and is what the registry uses — the
    expression form remains the declarative mirror of the SQL oracle."""
    import hashlib
    import re as _re

    from pyspark.sql.functions import pandas_udf

    non_alnum = _re.compile(r"[^a-z0-9]")
    k, w = WINNOW_K, WINNOW_W

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            norm = non_alnum.sub("", t.lower()) if t else ""
            n = len(norm) - (k - 1)
            if n < 1:
                out.append(np.array([], dtype=np.int64))
                continue
            hashes = np.fromiter(
                (
                    int(hashlib.md5(norm[i : i + k].encode()).hexdigest()[:8], 16)
                    % FP_PRIME
                    for i in range(n)
                ),
                np.int64,
                count=n,
            )
            if n < w:
                mins = hashes.min(keepdims=True)
            else:
                mins = np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
            out.append(np.unique(mins))  # unique == sort + distinct
        return pd.Series(out)

    return pandas_udf(batch, "array<long>")(text)


def winnow_grams_sql() -> str:
    """DuckDB twin of :func:`winnow_grams` over ``text`` (``range`` has
    an exclusive end and yields empty naturally, so no short-doc guard
    needed)."""
    k = WINNOW_K
    norm = "regexp_replace(lower(text), '[^a-z0-9]', '', 'g')"
    return (
        f"list_transform(range(1, greatest(len({norm}) - {k - 1}, 0) + 1), "
        f"i -> CAST('0x' || substr(md5(substr({norm}, i, {k})), 1, 8) AS BIGINT) % {FP_PRIME})"
    )


def winnow_from_grams_sql(gcol: str) -> str:
    """DuckDB twin of :func:`winnow_from_grams`; bind the grams in a
    CTE first, mirroring the Spark two-step form."""
    w = WINNOW_W
    n_windows = f"greatest(len({gcol}) - {w - 1}, least(len({gcol}), 1))"
    return (
        f"list_sort(list_distinct(list_transform("
        f"range(1, {n_windows} + 1), "
        f"j -> list_min(list_slice({gcol}, j, j + {w - 1})))))"
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

# Lookahead-free, explicit-ASCII patterns so Java regex (Spark) and
# RE2 (DuckDB) match byte-for-byte (same reasoning as BPE_PATTERN).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+?[0-9][0-9 ()-]{6,}[0-9]",
}


def redact_pii(text: Column) -> Column:
    """Scrub emails / IPv4s / phone-ish digit runs to typed placeholder
    tokens — the standard training-data PII pass.  Pure
    ``regexp_replace`` chain: JVM-side, codegen, no UDF.  Order
    matters: emails first (an address contains digit runs), then IPs,
    then phones."""
    out = text
    for kind in ("email", "ipv4", "phone"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Match counts per PII kind (for corpus audit reports)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii_sql(col: str = "text") -> str:
    """DuckDB twin (identical patterns, 'g' flag for replace-all —
    Spark's regexp_replace is replace-all by default)."""
    out = col
    for kind in ("email", "ipv4", "phone"):
        pat = PII_PATTERNS[kind].replace("'", "''")
        out = f"regexp_replace({out}, '{pat}', '<{kind.upper()}>', 'g')"
    return out


# ---------------------------------------------------------------------------
# unigram self-surprisal (corpus-typicality quality score)
# ---------------------------------------------------------------------------


def unigram_surprisal(df: DataFrame) -> DataFrame:
    """Per-``doc_id`` mean unigram surprisal ``-ln p(w)`` of ``text``
    under the corpus's OWN unigram distribution — the cheap proxy for
    LM-perplexity quality filtering (atypical/garbled docs score high,
    boilerplate scores low).  Two aggregations: global word
    frequencies (a small relation, broadcast back), then a per-doc
    mean.  Both are
    partial-aggregated map-side; nothing leaves the JVM."""
    toks = df.select(F.col("doc_id"), F.explode(words(F.col("text"))).alias("_w"))
    freqs = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    total = toks.count()
    scored = toks.join(F.broadcast(freqs), "_w").select(
        "doc_id",
        (-F.log(F.col("_c") / F.lit(float(total)))).alias("_s"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("_s"), 6).alias("mean_surprisal"),
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce("mean_surprisal", F.lit(0.0)).alias("mean_surprisal"),
        )
    )


# add-alpha smoothing of the bigram LM
_BIGRAM_ALPHA = 0.5


def bigram_cross_entropy(df: DataFrame) -> DataFrame:
    """Per-``doc_id`` mean bigram cross-entropy
    ``-avg ln P(w_i | w_{i-1})`` of ``text`` under the corpus's OWN
    add-alpha (a = 0.5) bigram LM,
    ``P(w|v) = (c(v,w) + a) / (c(v) + a*V)`` — the sequence-aware
    upgrade of :func:`unigram_surprisal`: shuffled/garbled word order
    scores high even when every individual word is common, which a
    unigram model cannot see.

    Plan shape: one explode into (v, w) pairs, two count aggregations
    (bigram and context — both map-side combinable), broadcast back
    onto the pair stream, one per-doc mean.  The bigram-count relation
    is the LM "model"; by Heaps' law it is far smaller than the corpus
    (drop the broadcast hint if a corpus's bigram vocabulary outgrows
    it and Catalyst shuffle-joins).  Docs with < 2 words score 0 with
    ``n_bigrams = 0``.
    """
    ws = df.select(F.col("doc_id"), words(F.col("text")).alias("_ws"))
    # sequence(1, 0) would count DOWN, so guard short docs explicitly
    bg = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(_ws) >= 2 THEN transform(sequence(1, size(_ws) - 1), "
                "i -> struct(_ws[i-1] AS v, _ws[i] AS w)) "
                "ELSE array() END"
            )
        ).alias("_bg"),
    ).select("doc_id", F.col("_bg.v").alias("v"), F.col("_bg.w").alias("w"))
    vocab = (
        ws.select(F.explode("_ws").alias("_w")).select("_w").distinct().count()
    )
    cbw = bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("_cbw"))
    cv = bg.groupBy("v").agg(F.count(F.lit(1)).alias("_cv"))
    scored = (
        bg.join(F.broadcast(cbw), ["v", "w"])
        .join(F.broadcast(cv), "v")
        .select(
            "doc_id",
            (
                -F.log(
                    (F.col("_cbw") + F.lit(_BIGRAM_ALPHA))
                    / (F.col("_cv") + F.lit(_BIGRAM_ALPHA * vocab))
                )
            ).alias("_s"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_s"), 6).alias("cross_entropy"),
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("int").alias("n_bigrams"),
            F.coalesce("cross_entropy", F.lit(0.0)).alias("cross_entropy"),
        )
    )


def bigram_cross_entropy_sql() -> str:
    """DuckDB twin of :func:`bigram_cross_entropy` over ``documents``
    (identical counts, smoothing, and ln arithmetic; V computed
    in-query — same value the Spark path embeds as a literal)."""
    ws = words_sql("text")
    alpha = _BIGRAM_ALPHA
    return f"""
WITH t AS (SELECT doc_id, {ws} AS ws FROM documents),
v_cte AS (SELECT COUNT(DISTINCT w) AS vs FROM (SELECT unnest(ws) AS w FROM t)),
idx AS (SELECT doc_id, ws, unnest(range(2, len(ws) + 1)) AS i FROM t),
tok AS (SELECT doc_id, ws[i - 1] AS v, ws[i] AS w FROM idx),
cbw AS (SELECT v, w, COUNT(*) AS cbw FROM tok GROUP BY v, w),
cv AS (SELECT v, COUNT(*) AS cv FROM tok GROUP BY v),
sc AS (SELECT tok.doc_id,
              -ln((cbw.cbw + {alpha!r}) / (cv.cv + {alpha!r} * v_cte.vs)) AS s
       FROM tok JOIN cbw USING (v, w) JOIN cv USING (v) CROSS JOIN v_cte),
pd AS (SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(s), 6) AS cross_entropy
       FROM sc GROUP BY doc_id)
SELECT t.doc_id,
       CAST(COALESCE(pd.n_bigrams, 0) AS INTEGER) AS n_bigrams,
       COALESCE(pd.cross_entropy, 0.0) AS cross_entropy
FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id
ORDER BY t.doc_id
"""


def unigram_surprisal_sql() -> str:
    """DuckDB twin of :func:`unigram_surprisal` over ``documents``."""
    ws = words_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {ws} AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS w FROM t),
freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
tot AS (SELECT COUNT(*) AS n FROM tok),
sc AS (SELECT tok.doc_id, -ln(CAST(freq.c AS DOUBLE) / tot.n) AS s
       FROM tok JOIN freq USING (w) CROSS JOIN tot),
pd AS (SELECT doc_id, COUNT(*) AS n_tokens, ROUND(AVG(s), 6) AS mean_surprisal
       FROM sc GROUP BY doc_id)
SELECT t.doc_id,
       CAST(COALESCE(pd.n_tokens, 0) AS INTEGER) AS n_tokens,
       COALESCE(pd.mean_surprisal, 0.0) AS mean_surprisal
FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id
ORDER BY t.doc_id
"""


def char_entropy(text: Column) -> Column:
    """Shannon entropy of the character distribution, in bits/char —
    the classic cheap repetitiveness signal for crawl curation (a
    keyboard-mash or boilerplate-loop page sits far below natural
    text's ~4.1 bits/char; near-zero means one symbol dominates).

    Arrow-batched pandas UDF (the per-doc histogram is a data-dependent
    sparse map, which Spark's fixed-schema expressions can't build
    without exploding one row per character — a corpus-sized shuffle
    for a per-row statistic).  Linear in corpus bytes, no shuffle:
    the 100 TB cost is exactly one codegen'd scan + one Arrow hop.

    The ``+ 0.0`` normalizes IEEE ``-0.0`` (a single-symbol doc yields
    ``-(1.0 * log2 1.0) = -0.0``) so the value hash matches engines
    that print ``0.0``.  Per-symbol terms are summed in SORTED symbol
    order on both engines (np.unique sorts; the twin list_sorts), so
    the fold is bit-identical — the registry's determinism discipline."""

    @pandas_udf("double")
    def _ent(s: pd.Series) -> pd.Series:
        out = np.zeros(len(s), dtype=np.float64)
        for i, t in enumerate(s):
            if not t:
                continue
            _, cnt = np.unique(np.array(list(t)), return_counts=True)
            p = cnt / cnt.sum()
            out[i] = -(p * np.log2(p)).sum() + 0.0
        return pd.Series(out)

    return _ent(text)


def char_entropy_sql() -> str:
    """DuckDB twin of :func:`char_entropy` over ``text`` as a pure
    scalar expression (per-row list algebra: distinct symbols -> counts
    -> -sum p log2 p; quadratic in per-doc alphabet size, fine for an
    oracle).
    ``list_sort`` pins the summation order to the Spark UDF's sorted
    np.unique fold (UTF-8 binary order == code-point order)."""
    cs = "string_split(text, '')"
    return (
        f"CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0 ELSE "
        f"list_sum(list_transform(list_sort(list_distinct({cs})), u -> "
        f"-(CAST(len(list_filter({cs}, x -> x = u)) AS DOUBLE) / length(text)) "
        f"* log2(CAST(len(list_filter({cs}, x -> x = u)) AS DOUBLE) / length(text))"
        f")) + 0.0 END"
    )
