"""Text metrics — wordcount family + training-data text analysis.

Covers the reference's canonical text jobs (WordCount.java, WordMean.java:54-81,
WordMedian.java:154-158, WordStandardDeviation.java:137-169, Grep.java:55-70,
TokenCounterMapper, RegexMapper.java:36-49 — SURVEY §2.3/§2.5) plus the
LLM-pipeline text analyzers (language-ID heuristic, quality scoring, token
counting, document fingerprinting).

Every function is pure built-in expressions. Tokenization is shared and
deliberately engine-portable (same regex semantics in Java regex and RE2) so
each operator has an exact DuckDB oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WS = r"\s+"  # whitespace tokenizer, portable Spark<->DuckDB
BPE_ISH = r"[a-z]+|[0-9]+|[^a-z0-9\s]"  # crude BPE-ish segmenter
# Character-class COUNTS are computed with translate(), not regexp_replace():
# one char-map pass instead of an NFA walk (r11 optimization measurement:
# the [^a-z0-9\s] regexp_replace cost 19.8 s over the 5M-doc sf10 fixture,
# the equivalent translate 0.9 s, 0 value mismatches). Java regex \s (no
# UNICODE_CHARACTER_CLASS) is exactly [ \t\n\x0B\f\r], so removing these 6
# chars is semantics-identical to removing \s matches; equivalence is pinned
# for adversarial inputs in tests/test_operators.py.
WS_CHARS = " \t\n\x0b\x0c\r"
ALNUM_LOWER = "abcdefghijklmnopqrstuvwxyz0123456789"
STOPWORDS = ("the", "a", "of", "and", "to")
# language-ID marker words (space-delimited occurrence counting)
LANG_MARKERS = {"en": " the ", "fr": " le ", "de": " der ", "es": " el "}


def tokens(text: Column) -> Column:
    """lower → split on whitespace → drop empties."""
    return F.filter(F.split(F.lower(text), WS), lambda t: t != "")


# Python image of :func:`tokens`, for the Arrow/pandas text kernels.
# re.ASCII makes Python ``\s`` exactly Java's default ``\s``
# ([ \t\n\x0B\f\r]); without it U+00A0, \x1c-\x1f and the other characters
# ``str.split()`` treats as whitespace would split here but not in Spark
# (pinned in tests/test_operators.py).
#
# Case-mapping note: the kernels lower-case with Python ``str.lower()`` while
# :func:`tokens` uses Spark ``lower()``. On ASCII both are the same table.
# Otherwise Spark 4 lowercases with ICU (``UCharacter.toLowerCase``, ICU4J 77:
# Unicode 16) unless ``spark.sql.icu.caseMappings.enabled`` is false, and then
# with JVM ``String.toLowerCase()`` (JDK 17: Unicode 13) under the JVM DEFAULT
# locale; CPython 3.11 maps by Unicode 14. :func:`session.get_session` turns
# ICU off and pins the JVM locale to the root-equivalent en_US
# (``-Duser.language`` / ``-Duser.country`` on driver and executors), because
# a tr_TR/az locale maps ASCII 'I' to 'ı' on either path. The JVM and Python
# then agree on every character both Unicode versions cover; a character
# added or remapped after Unicode 13 (U+A7C0, for one) lowercases in Python
# only. A session built elsewhere needs the same pin (or an ASCII-only
# corpus, which every fixture is), and with ICU on it also lowercases
# characters new in Unicode 15-16 that Python leaves.
_WS_RE = re.compile(WS, re.ASCII)


def py_tokens(text: str) -> list[str]:
    """:func:`tokens` on one non-NULL string, in Python."""
    return [t for t in _WS_RE.split(text.lower()) if t]


def py_ngrams(toks: list[str], n: int):
    """Space-joined n-grams of ``toks`` in order (lazy; none when
    ``len(toks) < n``) — the Python image of
    ``array_join(slice(toks, i, n), ' ')`` for i = 1 .. size - n + 1."""
    return map(" ".join, zip(*(toks[k:] for k in range(n))))


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """WordCount.java — explode(split) + groupBy.count (map-side partial
    aggregation == the Combiner, for free)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def word_length_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """WordMean/WordMedian/WordStandardDeviation in one pass; median is
    interpolated at even counts (WordMedian.java:154-158 midpoint behavior)."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word"))
    length = F.length("word")
    from .rounding import fround

    return words.agg(
        F.count("*").alias("n_words"),
        fround(F.avg(length), 4).alias("mean_len"),
        fround(F.median(length), 4).alias("median_len"),
        F.round(F.stddev_pop(length), 4).alias("stddev_len"),
        F.min(length).cast("long").alias("min_len"),
        F.max(length).cast("long").alias("max_len"),
    )


def grep_count(df: DataFrame, pattern: str, group: int = 1, text_col: str = "text") -> DataFrame:
    """Grep.java:55-70 — regex-extract group matches, count, order desc."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), group)
            ).alias("match")
        )
        .groupBy("match")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("match"))
    )


def token_count(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token counts: whitespace tokens + BPE-ish segments."""
    t = F.lower(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_ISH), 0)).cast("long").alias("n_bpe_tokens"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score (deterministic)."""
    from .rounding import fround

    t = F.lower(F.col(text_col))
    n_chars = F.length(t)
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    # translate == the \s+ / [^a-z0-9\s] regexp_replace counts (see WS_CHARS
    # note above): non_ws counts non-whitespace chars, punct counts chars
    # outside [a-z0-9\s] — both as single char-map passes.
    non_ws = F.length(F.translate(t, WS_CHARS, ""))
    punct = F.length(F.translate(t, ALNUM_LOWER + WS_CHARS, ""))
    stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    punct_ratio = punct / F.greatest(non_ws, F.lit(1))
    stop_ratio = stop / F.greatest(n_tokens, F.lit(1))
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        * (1 - punct_ratio)
        * (F.lit(0.5) + stop_ratio)
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        fround(punct_ratio, 4).alias("punct_ratio"),
        fround(stop_ratio, 4).alias("stopword_ratio"),
        fround(score, 4).alias("quality"),
    )


def _marker_count(padded: Column, marker: str) -> Column:
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit(""))))
        / len(marker)
    ).cast("long")


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram-marker language ID: count per-language marker-word occurrences
    (substring replace-length trick — identical semantics in any engine),
    argmax with fixed tie order en>fr>de>es."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    scores = {k: _marker_count(padded, m) for k, m in LANG_MARKERS.items()}
    s = scores
    pred = (
        F.when((s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["es"]), "en")
        .when((s["fr"] >= s["de"]) & (s["fr"] >= s["es"]), "fr")
        .when(s["de"] >= s["es"], "de")
        .otherwise("es")
    )
    return df.select(
        F.col(id_col),
        *[v.alias(f"score_{k}") for k, v in scores.items()],
        pred.alias("lang_pred"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), WS, " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


# ---------------------------------------------------------------------------
# DuckDB oracle fragments (kept adjacent so both sides evolve together)
# ---------------------------------------------------------------------------

DUCK_TOKENS = "list_filter(regexp_split_to_array(lower({t}), '\\s+'), x -> x <> '')"


def duck_tokens(t: str) -> str:
    return DUCK_TOKENS.format(t=t)
