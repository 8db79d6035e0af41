"""Text-analysis operators for training-data pipelines.

Language ID (stopword-share heuristic), quality scoring (length / punct
/ stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting. All pure column expressions — JVM-side, no
Python in the hot path — so they hold up on a 100 TB corpus and stay
oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pipeline_mf_etl_spark.operators.dedupe import normalize_text, tokens

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
    "es": ("el", "la", "los", "y", "es", "un", "una"),
}


def stopword_share(toks: Column, stopwords: tuple[str, ...]) -> Column:
    """Share of tokens that are stopwords of one language.

    Takes a MATERIALIZED token-array column (``tokens(text)`` computed
    once in its own projection): inlining the tokenizer here would
    repeat the regex pipeline per language/feature — Catalyst's
    subexpression elimination does not collapse the copies across the
    array lambdas (measured ~1.8× slower on the quality query)."""
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def token_count(toks: Column) -> Column:
    """Whitespace token count over the materialized token array."""
    return F.size(toks)


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars."""
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[.,;:!?'\"()\[\]-]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def mean_token_len(toks: Column) -> Column:
    """Mean token length over the materialized token array."""
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks))


def quality_score(n_tok: Column, p_ratio: Column, mtl: Column) -> Column:
    """Composite 0-1 quality score: length band + low punct + sane mean
    token length (weights are engine policy, not reference-derived).
    Takes the already-computed components so callers that also emit
    them as output columns never evaluate them twice — this is the
    single home of the weights/bands."""
    len_score = F.least(n_tok.cast("double") / 50.0, F.lit(1.0))
    punct_score = 1.0 - F.least(p_ratio * 5.0, F.lit(1.0))
    mtl0 = F.coalesce(mtl, F.lit(0.0))
    mtl_score = F.when((mtl0 >= 3.0) & (mtl0 <= 8.0), 1.0).otherwise(0.5)
    return 0.5 * len_score + 0.25 * punct_score + 0.25 * mtl_score


def doc_fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text))


# ---------------------------------------------------------------------------
# DuckDB twins of the quality helpers above — the ORACLE-side single
# source for the punctuation class and the composite-score formula
# (queries/text.py t2 and queries/dedup.py d6 both compose these; a
# weight/band/regex change edits exactly one place per engine).
# ---------------------------------------------------------------------------
PUNCT_SQL_LITERAL = "'[.,;:!?''\"()\\[\\]-]'"


def quality_sql(n_tokens: str, p_ratio: str, mtl: str) -> str:
    """The quality_score() formula as a DuckDB expression over the given
    sub-expressions (same weights/bands as the Spark column above)."""
    return (
        f"0.5 * LEAST({n_tokens} / 50.0, 1.0)"
        f" + 0.25 * (1.0 - LEAST({p_ratio} * 5.0, 1.0))"
        f" + 0.25 * (CASE WHEN COALESCE({mtl}, 0.0) BETWEEN 3.0 AND 8.0"
        f" THEN 1.0 ELSE 0.5 END)"
    )


#: The corpus admit floor — ONE constant shared by the batch curation
#: waterfall (corpus_curate.DEFAULT_QUALITY_MIN), the streaming ingest
#: gate (streaming.quality_route), and the st8 oracle literal, so the
#: batch and streaming gates can never silently diverge.
QUALITY_ADMIT_MIN = 0.5


def rounded_quality(text_col: Column, toks_col: Column) -> Column:
    """The 6-dp composite quality column from a raw-text column and its
    MATERIALIZED token array — the single wiring of quality_score used
    by t2, the d6 cluster ranking, and the streaming quality router."""
    return F.round(
        quality_score(F.size(toks_col), punct_ratio(text_col), mean_token_len(toks_col)),
        6,
    )
