"""LLM corpus-preparation ops: PII scrubbing, repetition metrics, chunking,
sequence packing, temperature resampling, quantization, filtering, LM scoring.

These extend the reference's per-record transform surface (arbitrary logic in
``Mapper.map`` — MR-CORE .../mapreduce/Mapper.java:123) with the cleaning
stages a 100 TB text/embedding corpus actually runs. The per-document ops
(scrub, repetition, chunking, quantization) are pure map-side built-in
expressions — zero shuffles, plan-asserted; the corpus-level ops shuffle
exactly where the semantics demand it (packing's two-phase prefix sum,
temperature sampling's broadcast rate table, the LM's count joins) — see
SCALE.md for the per-op posture.

The documents testdata carries no natural PII, so ``doc_pii_scrub`` derives a
deterministic PII-bearing column first (same derivation in the DuckDB oracle)
and scrubs THAT — the regexes and replacement plumbing are what's under test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.rounding import duck_fround, fround
from ..functions.md5np import Md5Intern, md5_hex
from ..functions.text_metrics import (
    ALNUM_LOWER,
    WS_CHARS,
    duck_tokens,
    py_tokens,
    tokens,
)
from ..session import owned_persist
from ..session import table as T
from .registry import register

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Character classes only — no \d / \w / \b, which differ in corner semantics
# across regex dialects (Java vs RE2). Both patterns are valid and equivalent
# in Spark (Java regex) and DuckDB (RE2).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{3}-[0-9]{4}"

# Deterministic injected PII: doc_id % 3 emails and doc_id % 2 phone numbers
# appended to the text, so per-doc match counts vary and the scrub is
# genuinely exercised (the raw testdata text is word-soup with no PII).
_DUCK_PII_TEXT = (
    "text || repeat(' user' || doc_id::VARCHAR || '@mail' || (doc_id % 7)::VARCHAR"
    " || '.org', CAST(doc_id % 3 AS INT))"
    " || repeat(' +1-555-' || lpad(((doc_id * 7) % 1000)::VARCHAR, 3, '0')"
    " || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0'), CAST(doc_id % 2 AS INT))"
)


def _pii_text() -> F.Column:
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" user"), did.cast("string"), F.lit("@mail"),
        (did % 7).cast("string"), F.lit(".org"),
    )
    phone = F.concat(
        F.lit(" +1-555-"),
        F.lpad(((did * 7) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    return F.concat(
        F.col("text"),
        F.repeat(email, (did % 3).cast("int")),
        F.repeat(phone, (did % 2).cast("int")),
    )


@register(
    "doc_pii_scrub",
    oracle=f"""
        WITH src AS (SELECT doc_id, {_DUCK_PII_TEXT} AS t FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{_PHONE_RE}', '<PHONE>', 'g')) AS scrub_fp
        FROM src
    """,
    ref="PII redaction (emails/phones -> placeholder tokens) — the scrub stage of a "
    "training-data pipeline. Map-side regexp_replace only (Mapper.map surface, "
    "Mapper.java:123); counts + scrubbed-text md5 prove both the match and the "
    "replacement agree across engines",
)
def doc_pii_scrub(spark, sf_dir):
    d = T(spark, sf_dir, "documents").withColumn("t", _pii_text())
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrub_fp"),
    )


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality rules)
# ---------------------------------------------------------------------------

_TOKS = duck_tokens("text")

# Shared oracle body: per-doc repetition metrics (reused by the composite
# filter pipeline below so the two entries cannot drift).
_REPETITION_ORACLE = f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        ex AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])) AS bigram
            FROM d WHERE len(toks) >= 2
        ),
        bc AS (SELECT doc_id, n_tokens, bigram, count(*) AS c
               FROM ex GROUP BY doc_id, n_tokens, bigram),
        tb AS (SELECT doc_id, any_value(n_tokens) AS n_tokens, max(c) AS top_bigram
               FROM bc GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(len(d.toks) AS BIGINT) AS n_tokens,
               {duck_fround('len(list_distinct(d.toks)) * 1.0 / greatest(len(d.toks), 1)', 4)}
                   AS distinct_ratio,
               CAST(coalesce(tb.top_bigram, 0) AS BIGINT) AS top_bigram_count,
               {duck_fround('coalesce(tb.top_bigram, 0) * 2.0 / greatest(len(d.toks), 1)', 4)}
                   AS top_bigram_frac
        FROM d LEFT JOIN tb ON d.doc_id = tb.doc_id
"""


@register(
    "doc_repetition",
    oracle=_REPETITION_ORACLE,
    ref="repetition quality rules (distinct-token ratio + most-frequent-bigram mass, the "
    "Gopher-style repetition filters). Spark side is map-side: the per-doc top bigram "
    "count runs in the Arrow kernel (Counter max multiplicity == the sorted-array "
    "run-length fold, expression twin test-pinned) — no explode, no key-based shuffle, "
    "only the deliberate round-robin scan spread; the oracle uses the equivalent "
    "unnest+groupBy formulation, so the per-doc counting itself is what's verified",
)
def doc_repetition(spark, sf_dir):
    return repetition_metrics(
        T(spark, sf_dir, "documents").select("doc_id", "text")
    )


def repetition_metrics_expr(docs):
    """Expression-fold reference for :func:`repetition_metrics` — the
    original sort_array + run-length fold, kept as the bit-equality twin
    the kernel is pinned against (the gopher_repetition_kernel pattern)."""
    d = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    # Max run length over the SORTED bigram array == max per-doc bigram count.
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top = F.aggregate(
        F.when(n >= 2, F.sort_array(bigrams)).otherwise(
            F.array().cast("array<string>")
        ),
        acc0,
        step,
        lambda acc: acc["best"],
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        fround(
            F.size(F.array_distinct("toks")) / F.greatest(n, F.lit(1)), 4
        ).alias("distinct_ratio"),
        top.alias("top_bigram_count"),
        fround(top * 2.0 / F.greatest(n, F.lit(1)), 4).alias("top_bigram_frac"),
    )


def repetition_metrics(docs):
    """doc_repetition metrics over any (doc_id, text) frame — Arrow-kernel
    path, bit-identical to :func:`repetition_metrics_expr` (test-pinned on
    fixture + adversarial NULL/empty/unicode/repeated-bigram rows).

    Why (r11, guide §4.2): the per-doc sort_array + interpreted run-length
    fold over bigram strings cost 5.4 s warm at the 500k-doc fixture
    (doc_repetition standalone; the funnel's metrics persist pays it too).
    The kernel computes the same values with a Counter — max multiplicity
    of a bigram equals the max run over the sorted bigram array by
    definition — and mirrors the two fround divisions op-for-op (Python
    doubles are the same IEEE ops Catalyst runs: divide, ×10⁴, +0.5,
    floor). Tokenization is :func:`text_metrics.py_tokens`; a NULL-text
    row emits NULL n_tokens / NULL distinct_ratio — the expression path's
    degenerate outputs under Spark 4 defaults, where ``size(NULL)`` is NULL
    (the −1 value only exists under spark.sql.legacy.sizeOfNull; the
    twin-equality pin test runs under the session default and would catch
    a flip). The kernel spreads its input
    (ensure_parallelism — the ONE deliberate round-robin exchange the
    plan-pin test allows, a no-op on real multi-file input)."""
    import math
    from collections import Counter

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..session import ensure_parallelism

    id_type = docs.schema["doc_id"].dataType
    schema = StructType(
        [
            StructField("doc_id", id_type, False),
            StructField("n_tokens", LongType(), True),
            StructField("distinct_ratio", DoubleType(), True),
            StructField("top_bigram_count", LongType(), False),
            StructField("top_bigram_frac", DoubleType(), False),
        ]
    )
    floor = math.floor

    def fr4(x: float) -> float:
        return floor(x * 10000 + 0.5) / 10000

    def kernel(batches):
        for pdf in batches:
            out_n, out_dr, out_tc, out_tf = [], [], [], []
            texts = pdf["text"]
            for pos in range(len(pdf)):
                text = texts.iloc[pos]
                if text is None:
                    # expression path: size(NULL)/ratio are NULL; the top
                    # count falls to the otherwise-branch (0, 0.0)
                    out_n.append(None)
                    out_dr.append(None)
                    out_tc.append(0)
                    out_tf.append(0.0)
                    continue
                toks = py_tokens(text)
                n = len(toks)
                nn = max(n, 1)
                if n >= 2:
                    top = max(
                        Counter(zip(toks, toks[1:])).values()
                    )
                else:
                    top = 0
                out_n.append(n)
                out_dr.append(fr4(len(set(toks)) / nn))
                out_tc.append(top)
                out_tf.append(fr4(top * 2.0 / nn))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].reset_index(drop=True),
                    "n_tokens": pd.array(out_n, dtype="Int64"),
                    "distinct_ratio": pd.array(out_dr, dtype="Float64"),
                    "top_bigram_count": pd.Series(out_tc, dtype="int64"),
                    "top_bigram_frac": pd.Series(out_tf, dtype="float64"),
                }
            )

    return ensure_parallelism(docs.select("doc_id", "text")).mapInPandas(
        kernel, schema=schema
    )


# ---------------------------------------------------------------------------
# Embedding quantization
# ---------------------------------------------------------------------------


@register(
    "embed_quantize_int8",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings
        ),
        s AS (
            SELECT vec_id, e,
                   greatest(list_aggregate(list_transform(e, x -> abs(x)), 'max'),
                            1e-30) / 127 AS scale
            FROM v
        ),
        q AS (
            SELECT vec_id, scale,
                   list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
            FROM s
        )
        SELECT vec_id,
               CAST(len(qv) AS BIGINT) AS dim,
               {duck_fround('scale', 9)} AS scale,
               CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_checksum,
               CAST(len(list_filter(qv, x -> abs(x) >= 127)) AS BIGINT) AS n_saturated
        FROM q
    """,
    ref="int8 symmetric quantization of the embedding column (amax/127 scale, half-up "
    "rounding) — the compression step before ANN serving at corpus scale. Pure "
    "map-side array expressions; the quantized-vector checksum is integer-exact so "
    "the oracle match proves every element, not just the stats. Division and floor "
    "are the identical IEEE ops in both engines (floor-round portability contract, "
    "functions/rounding.py)",
)
def embed_quantize_int8(spark, sf_dir):
    from ..functions.similarity import as_double

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    amax = F.aggregate(
        F.col("e"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
    )
    scale = F.greatest(amax, F.lit(1e-30)) / 127
    s = e.select("vec_id", "e", scale.alias("scale"))
    qv = F.transform(
        F.col("e"), lambda x: F.floor(x / F.col("scale") + 0.5).cast("long")
    )
    q = s.select("vec_id", "scale", qv.alias("qv"))
    return q.select(
        "vec_id",
        F.size("qv").cast("long").alias("dim"),
        fround(F.col("scale"), 9).alias("scale"),
        F.aggregate(
            F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_checksum"),
        F.size(F.filter("qv", lambda x: F.abs(x) >= 127)).cast("long").alias(
            "n_saturated"
        ),
    )


# ---------------------------------------------------------------------------
# Chunking, sequence packing, temperature resampling
# ---------------------------------------------------------------------------

_CHUNK = 64  # tokens per chunk
_STRIDE = 48  # chunk stride (overlap = _CHUNK - _STRIDE)


@register(
    "doc_chunk_tokens",
    oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                   WHERE len({_TOKS}) >= 1),
        s AS (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks), {_STRIDE})) AS start
              FROM d)
        SELECT doc_id,
               CAST((start - 1) // {_STRIDE} AS BIGINT) AS chunk_id,
               CAST(len(list_slice(toks, start, start + {_CHUNK - 1})) AS BIGINT)
                   AS n_chunk_tokens,
               md5(array_to_string(list_slice(toks, start, start + {_CHUNK - 1}), ' '))
                   AS chunk_fp
        FROM s
    """,
    ref=f"sliding-window token chunking (chunk={_CHUNK}, stride={_STRIDE}) — the "
    "context-window splitter of a training/RAG pipeline. Map-side sequence+slice "
    "expressions, no shuffle; chunk md5 proves the exact token content of every "
    "chunk across engines",
)
def doc_chunk_tokens(spark, sf_dir):
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 1)
    )
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(_STRIDE))
    s = d.select("doc_id", "toks", F.explode(starts).alias("start"))
    chunk = F.slice("toks", F.col("start"), _CHUNK)
    return s.select(
        "doc_id",
        F.expr(f"(start - 1) DIV {_STRIDE}").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


_MAX_LEN = 512  # tokens per packed training sequence


@register(
    "pack_training_sequences",
    oracle=f"""
        WITH d AS (SELECT doc_id, len({_TOKS}) AS n FROM documents
                   WHERE len({_TOKS}) >= 1),
        c AS (SELECT doc_id, n,
                     CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS cum
              FROM d),
        spans AS (
            SELECT doc_id, n, cum - n AS s, cum AS e,
                   unnest(generate_series((cum - n) // {_MAX_LEN},
                                          (cum - 1) // {_MAX_LEN})) AS pack_id
            FROM c
        )
        SELECT CAST(pack_id AS BIGINT) AS pack_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(least(e, (pack_id + 1) * {_MAX_LEN})
                        - greatest(s, pack_id * {_MAX_LEN})) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM spans GROUP BY pack_id
    """,
    ref=f"sequence packing for pretraining (documents concatenated in doc_id order, "
    f"split into {_MAX_LEN}-token sequences; a document may span packs — the GPT-style "
    "pack-then-split layout). The global token prefix sum uses the two-phase "
    "range-partition scan (operators/sort.py global_running_total), NEVER a "
    "single-partition window — the oracle's sum() OVER (ORDER BY) is the semantic "
    "twin, not the plan",
)
def pack_training_sequences(spark, sf_dir):
    from ..operators.sort import global_running_total

    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n"))
        .filter(F.col("n") >= 1)
    )
    c = global_running_total(d, [F.col("doc_id")], "n", total_name="cum")
    spans = c.select(
        "doc_id",
        "n",
        (F.col("cum") - F.col("n")).alias("s"),
        F.col("cum").alias("e"),
        F.explode(
            F.sequence(
                F.expr(f"(cum - n) DIV {_MAX_LEN}"),
                F.expr(f"(cum - 1) DIV {_MAX_LEN}"),
            )
        ).alias("pack_id"),
    )
    tok_in_pack = F.least(
        F.col("e"), (F.col("pack_id") + 1) * _MAX_LEN
    ) - F.greatest(F.col("s"), F.col("pack_id") * _MAX_LEN)
    return spans.groupBy(F.col("pack_id").cast("long").alias("pack_id")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(tok_in_pack).cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_TEMP_C = 0.5  # base keep rate multiplier


@register(
    "corpus_temperature_sample",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars,
                   count(*) OVER (PARTITION BY lang) AS n_l,
                   count(*) OVER () AS n_total
            FROM documents
        ),
        k AS (
            SELECT lang, n_chars,
                   least(1.0, {_TEMP_C} * sqrt(n_total::DOUBLE / n_l)) AS rate,
                   ('0x' || substr(md5('tsample:' || doc_id::VARCHAR), 1, 15))::BIGINT
                       / {float(2**60)} AS frac
            FROM t
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               {duck_fround('any_value(rate)', 6)} AS rate,
               CAST(sum(CASE WHEN frac < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN frac < rate THEN n_chars ELSE 0 END) AS BIGINT)
                   AS kept_chars
        FROM k GROUP BY lang
    """,
    ref="temperature-based language rebalancing (keep rate ∝ 1/sqrt(language share), "
    "capped at 1 — the multilingual-corpus resampling rule): rare languages keep "
    "everything, dominant languages are downsampled. Keep decisions are md5-derived "
    "fractions (deterministic, engine-portable — never rand()); sqrt is IEEE "
    "correctly-rounded so the rates are bit-identical without any cross-language "
    "normalization sum",
)
def corpus_temperature_sample(spark, sf_dir):
    from ..functions.dedup import md5_long

    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lang_counts = d.groupBy("lang").agg(F.count("*").alias("n_l"))
    total = d.agg(F.count("*").alias("n_total"))
    rates = lang_counts.crossJoin(F.broadcast(total)).select(
        "lang",
        F.least(
            F.lit(1.0), _TEMP_C * F.sqrt(F.col("n_total").cast("double") / F.col("n_l"))
        ).alias("rate"),
    )
    frac = md5_long(F.concat(F.lit("tsample:"), F.col("doc_id").cast("string"))) / float(
        2**60
    )
    keep = frac < F.col("rate")
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            fround(F.first("rate"), 6).alias("rate"),
            F.sum(keep.cast("long")).cast("long").alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).cast("long").alias(
                "kept_chars"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Composite keep/drop filter + bigram LM scoring
# ---------------------------------------------------------------------------

_MIN_TOKENS, _MAX_TOKENS = 20, 2000
_MIN_DISTINCT, _MAX_TOPBG = 0.30, 0.20


@register(
    "corpus_filter_pipeline",
    oracle=f"""
        WITH rep AS ({_REPETITION_ORACLE})
        SELECT CASE
                 WHEN n_tokens < {_MIN_TOKENS} THEN 'too_short'
                 WHEN n_tokens > {_MAX_TOKENS} THEN 'too_long'
                 WHEN distinct_ratio < {_MIN_DISTINCT} THEN 'low_diversity'
                 WHEN top_bigram_frac > {_MAX_TOPBG} THEN 'repetitive'
                 ELSE 'keep' END AS reason,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
        FROM rep GROUP BY 1
    """,
    ref="end-to-end cleaning verdict: every document gets a keep/drop reason from the "
    "prioritized Gopher-style rule chain (length bounds, token diversity, top-bigram "
    "mass) — the report a pipeline operator reads before shipping a corpus. Reuses "
    "the doc_repetition metrics verbatim (shared oracle CTE / shared Spark frame), "
    "so rule inputs cannot drift from the audited metrics entry",
)
def corpus_filter_pipeline(spark, sf_dir):
    rep = doc_repetition(spark, sf_dir)
    reason = (
        F.when(F.col("n_tokens") < _MIN_TOKENS, "too_short")
        .when(F.col("n_tokens") > _MAX_TOKENS, "too_long")
        .when(F.col("distinct_ratio") < _MIN_DISTINCT, "low_diversity")
        .when(F.col("top_bigram_frac") > _MAX_TOPBG, "repetitive")
        .otherwise("keep")
    )
    return rep.groupBy(reason.alias("reason")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens_total"),
    )


# Gopher document-level quality rules (Rae et al. 2021, appendix A1.1 — the
# published thresholds, verbatim): word count in [50, 100k], mean word length
# in [3, 10] chars, per-symbol (hash / ellipsis) symbol-to-word ratio <= 0.1,
# >= 80% of words contain an alphabetic character, >= 2 of the 8 canonical
# stop words present. Every ratio threshold is applied by exact integer
# cross-multiplication so the comparisons are bit-portable (no float ratio
# ever crosses the engine boundary).
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


@register(
    "gopher_rules_filter",
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_words,
                   CAST(length(array_to_string({_TOKS}, '')) AS BIGINT)
                       AS n_word_chars,
                   CAST(len(list_filter({_TOKS},
                        w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
                       AS n_alpha_words,
                   CAST(length(text) - length(replace(text, '#', ''))
                       AS BIGINT) AS n_hash,
                   CAST((length(text) - length(replace(text, '...', ''))) // 3
                       AS BIGINT) AS n_ellipsis,
                   CAST(len(list_intersect(list_distinct({_TOKS}),
                        {list(_GOPHER_STOPS)})) AS BIGINT) AS n_stops
            FROM documents
        )
        SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_hash,
               n_ellipsis, n_stops,
               CASE
                 WHEN n_words < {_GOPHER_MIN_WORDS} THEN 'too_few_words'
                 WHEN n_words > {_GOPHER_MAX_WORDS} THEN 'too_many_words'
                 WHEN n_word_chars < 3 * n_words
                   OR n_word_chars > 10 * n_words THEN 'bad_mean_word_length'
                 WHEN n_hash * 10 > n_words
                   OR n_ellipsis * 10 > n_words THEN 'high_symbol_ratio'
                 WHEN n_alpha_words * 10 < n_words * 8 THEN 'low_alpha_fraction'
                 WHEN n_stops < 2 THEN 'few_stop_words'
                 ELSE 'keep' END AS reason
        FROM m
    """,
    ref="the Gopher document-quality rule set (Rae et al. 2021 A1.1 — the "
    "published production thresholds, also the basis of the FineWeb/Dolma "
    "heuristic stages): word-count bounds, mean-word-length bounds, per-"
    "symbol hash/ellipsis ratios, alphabetic-word fraction, stop-word "
    "presence. Complements corpus_filter_pipeline's repetition rules "
    "(distinct-ratio / top-bigram mass are Gopher's REPETITION section; "
    "this entry is the QUALITY section). Pure map-side expressions, zero "
    "exchanges; every threshold applied via exact integer cross-"
    "multiplication, so the keep/drop verdict is bit-portable. Line-level "
    "rules (bullet/ellipsis line fractions) apply identically after a "
    "split-on-newline explode; the fixture corpus is single-line",
)
def gopher_rules_filter(spark, sf_dir):
    return gopher_rules(T(spark, sf_dir, "documents"))


def gopher_rules(docs):
    """The rule chain over any (doc_id, text) frame — split from the entry so
    the pure-Python reference test can run it on crafted boundary fixtures
    (the thresholds are codegen-shared with the oracle, so only an EXTERNAL
    ground truth can catch a shared formula bug)."""
    toks = tokens(F.col("text"))
    text = F.col("text")
    n_words = F.size(toks).cast("long")
    n_word_chars = F.length(F.array_join(toks, "")).cast("long")
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("long")
    n_hash = (F.length(text) - F.length(F.replace(text, F.lit("#")))).cast("long")
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("...")))) / F.lit(3)
    ).cast("long")
    n_stops = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in _GOPHER_STOPS])
        )
    ).cast("long")
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_word_chars.alias("n_word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_hash.alias("n_hash"),
        n_ellipsis.alias("n_ellipsis"),
        n_stops.alias("n_stops"),
    )
    reason = (
        F.when(F.col("n_words") < _GOPHER_MIN_WORDS, "too_few_words")
        .when(F.col("n_words") > _GOPHER_MAX_WORDS, "too_many_words")
        .when(
            (F.col("n_word_chars") < 3 * F.col("n_words"))
            | (F.col("n_word_chars") > 10 * F.col("n_words")),
            "bad_mean_word_length",
        )
        .when(
            (F.col("n_hash") * 10 > F.col("n_words"))
            | (F.col("n_ellipsis") * 10 > F.col("n_words")),
            "high_symbol_ratio",
        )
        .when(F.col("n_alpha_words") * 10 < F.col("n_words") * 8, "low_alpha_fraction")
        .when(F.col("n_stops") < 2, "few_stop_words")
        .otherwise("keep")
    )
    return m.select("*", reason.alias("reason"))


# Gopher repetition-removal signals (Rae et al. 2021 A1.1, Table A1): the
# n-gram half of the repetition section. Character fractions, not token
# fractions: top n-gram char fraction for n in {2,3,4} (thresholds 0.20 /
# 0.18 / 0.16) and duplicate n-gram char fraction for n in {5..10}
# (0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10). Declared semantics (both
# engines + the pure-Python reference share them):
#  - total_chars = length of the space-joined token stream;
#  - an n-gram's char length = its joined-string length (words + n-1 spaces);
#  - top fraction = max_count * len(argmax gram) / total_chars, argmax ties
#    broken by the LEXICOGRAPHICALLY SMALLEST gram (deterministic on both
#    engines: the sorted-array fold meets the smallest gram first, the
#    oracle orders by (count DESC, gram ASC));
#  - dup fraction counts characters of duplicated n-grams WITH MULTIPLICITY
#    (sum of count*len over grams with count >= 2) — overlaps are not
#    deduplicated, so the signal can exceed 1 on degenerate input; the
#    paper does not pin overlap semantics and this form is fold-computable
#    on both engines.
# Line/paragraph-duplicate fractions apply after a split-on-newline explode
# (c4_line_filter's derivation); the fixture corpus is single-line.
_GOPHER_TOP_PCT = {2: 20, 3: 18, 4: 16}
_GOPHER_DUP_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def _duck_ngrams(n: int) -> str:
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"list_transform(range(1, len(toks) - {n - 2}), i -> {gram})"
        if n > 1
        else "toks"
    )


def _duck_top_cte(n: int) -> str:
    """Per-doc (count, char-length) of the most frequent n-gram, smallest
    gram on count ties."""
    return f"""
        top{n} AS (
            SELECT doc_id, c, length(gram) AS glen FROM (
                SELECT doc_id, gram, count(*) AS c,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY count(*) DESC, gram) AS rn
                FROM (SELECT doc_id, unnest({_duck_ngrams(n)}) AS gram
                      FROM d WHERE len(toks) >= {n})
                GROUP BY doc_id, gram
            ) WHERE rn = 1
        )"""


def _duck_dup_cte(n: int) -> str:
    """Per-doc duplicated-n-gram chars with multiplicity."""
    return f"""
        dup{n} AS (
            SELECT doc_id, sum(c * length(gram)) AS chars FROM (
                SELECT doc_id, gram, count(*) AS c
                FROM (SELECT doc_id, unnest({_duck_ngrams(n)}) AS gram
                      FROM d WHERE len(toks) >= {n})
                GROUP BY doc_id, gram
            ) WHERE c >= 2 GROUP BY doc_id
        )"""


_GOPHER_REP_ORACLE = (
    f"""
    WITH d AS (SELECT doc_id, {duck_tokens("coalesce(text, '')")} AS toks
               FROM documents),
    base AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS total_chars
        FROM d
    ),"""
    + ",".join(_duck_top_cte(n) for n in _GOPHER_TOP_PCT)
    + ","
    + ",".join(_duck_dup_cte(n) for n in _GOPHER_DUP_PCT)
    + f"""
    SELECT base.doc_id, base.n_tokens, base.total_chars,
    """
    + ", ".join(
        duck_fround(
            f"coalesce(top{n}.c * top{n}.glen, 0) * 1.0"
            f" / greatest(base.total_chars, 1)",
            4,
        )
        + f" AS top_{n}_frac"
        for n in _GOPHER_TOP_PCT
    )
    + ", "
    + ", ".join(
        duck_fround(
            f"coalesce(dup{n}.chars, 0) * 1.0 / greatest(base.total_chars, 1)", 4
        )
        + f" AS dup_{n}_frac"
        for n in _GOPHER_DUP_PCT
    )
    + ", ("
    + " OR ".join(
        f"coalesce(top{n}.c * top{n}.glen, 0) * 100"
        f" > base.total_chars * {pct}"
        for n, pct in _GOPHER_TOP_PCT.items()
    )
    + " OR "
    + " OR ".join(
        f"coalesce(dup{n}.chars, 0) * 100 > base.total_chars * {pct}"
        for n, pct in _GOPHER_DUP_PCT.items()
    )
    + ") AS repetitive FROM base "
    + " ".join(
        f"LEFT JOIN top{n} ON top{n}.doc_id = base.doc_id" for n in _GOPHER_TOP_PCT
    )
    + " "
    + " ".join(
        f"LEFT JOIN dup{n} ON dup{n}.doc_id = base.doc_id" for n in _GOPHER_DUP_PCT
    )
)


def _ngram_array(n: int):
    """Array of space-joined n-grams over the per-row `toks` column."""
    toks_n = F.size("toks")
    grams = F.transform(
        F.sequence(F.lit(1), toks_n - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("toks", i + F.lit(j)) for j in range(n)]
        ),
    )
    return F.when(toks_n >= n, grams).otherwise(F.array().cast("array<string>"))


def _top_chars_fold(n: int):
    """cnt*len(gram) of the most frequent n-gram via a run-length fold over
    the SORTED gram array — smallest gram wins count ties because the fold
    meets it first and later runs must be STRICTLY longer to replace it."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("chars"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, run * F.length(x)).otherwise(acc["chars"]).alias(
                "chars"
            ),
        )

    return F.aggregate(
        F.sort_array(_ngram_array(n)), acc0, step, lambda acc: acc["chars"]
    )


def _dup_chars_fold(n: int):
    """Sum of cnt*len(gram) over grams with cnt >= 2 (multiplicity
    semantics), via the same sorted run-length fold; the finish lambda
    flushes the final run."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
    )

    def flush(acc):
        return F.when(
            acc["run"] >= 2, acc["dup"] + acc["run"] * F.length(acc["prev"])
        ).otherwise(acc["dup"])

    def step(acc, x):
        return F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(x == acc["prev"], acc["dup"]).otherwise(flush(acc)).alias(
                "dup"
            ),
        )

    return F.aggregate(F.sort_array(_ngram_array(n)), acc0, step, flush)


@register(
    "gopher_repetition_signals",
    oracle=_GOPHER_REP_ORACLE,
    ref="the n-gram half of Gopher's repetition-removal section (Rae et al. "
    "2021 Table A1, the published thresholds): top n-gram CHARACTER "
    "fraction for n=2/3/4 (> 0.20/0.18/0.16 repetitive) and duplicate "
    "n-gram character fraction for n=5..10 (> 0.15..0.10). Spark side is "
    "fully map-side: nine sorted-array run-length folds per document "
    "(the doc_repetition pattern) — no explode, no key-based shuffle (the "
    "only Exchange is the deliberate round-robin spread of a single-file "
    "scan, a no-op on real multi-file input); the verdict applies every "
    "threshold by exact integer "
    "cross-multiplication (chars*100 > total_chars*pct). The oracle uses "
    "the equivalent unnest+groupBy+window formulation, so the folds "
    "themselves are what parity verifies; a pure-Python float reference "
    "pins the shared semantics externally. Argmax ties break to the "
    "lexicographically smallest gram on both engines",
)
def gopher_repetition_signals(spark, sf_dir):
    return gopher_repetition_kernel(T(spark, sf_dir, "documents"))


def gopher_repetition_kernel(docs):
    """Arrow-kernel twin of :func:`gopher_repetition` — bit-identical
    (test-pinned): the char counts are exact integers, the only float op is
    the single fround division, and Python doubles are the same IEEE ops
    Catalyst runs. Why it exists: nine interpreted higher-order folds per
    document cost 49.3 s at sf1 where this Counter-based kernel does the
    same work in a few seconds (the simhash64_kernel precedent). Argmax
    ties break on the JOINED-STRING order among max-count candidates only —
    identical to the sorted-array fold's order for any token alphabet.
    Tokenization is :func:`text_metrics.py_tokens`."""
    import math
    from collections import Counter

    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_type = docs.schema["doc_id"].dataType
    frac_cols = [f"top_{n}_frac" for n in _GOPHER_TOP_PCT] + [
        f"dup_{n}_frac" for n in _GOPHER_DUP_PCT
    ]
    schema = StructType(
        [
            StructField("doc_id", id_type, False),
            StructField("n_tokens", LongType(), False),
            StructField("total_chars", LongType(), False),
            *[StructField(c, DoubleType(), False) for c in frac_cols],
            StructField("repetitive", BooleanType(), False),
        ]
    )
    from ..session import ensure_parallelism

    # single-file scans arrive as ONE partition — spread before the
    # CPU-heavy kernel (the winnow lesson); a no-op on real multi-file input
    base = ensure_parallelism(docs.select("doc_id", "text"))

    def kernel(batches):
        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in schema.fieldNames()}
            texts = pdf["text"]
            ids = pdf["doc_id"]
            for pos in range(len(pdf)):
                text = texts.iloc[pos]
                toks = py_tokens(text) if text is not None else []
                nt = len(toks)
                total = sum(map(len, toks)) + max(nt - 1, 0)
                denom = max(total, 1)
                rep = False
                cols["doc_id"].append(ids.iloc[pos])
                cols["n_tokens"].append(nt)
                cols["total_chars"].append(total)
                for n, pct in _GOPHER_TOP_PCT.items():
                    cnt = Counter(
                        tuple(toks[i : i + n]) for i in range(nt - n + 1)
                    )
                    if cnt:
                        m = max(cnt.values())
                        g = min(
                            " ".join(k) for k, v in cnt.items() if v == m
                        )
                        chars = m * len(g)
                    else:
                        chars = 0
                    # same IEEE op order as fround(chars/denom, 4)
                    cols[f"top_{n}_frac"].append(
                        math.floor(chars / denom * 10_000 + 0.5) / 10_000
                    )
                    rep = rep or chars * 100 > total * pct
                for n, pct in _GOPHER_DUP_PCT.items():
                    cnt = Counter(
                        tuple(toks[i : i + n]) for i in range(nt - n + 1)
                    )
                    chars = sum(
                        v * (sum(map(len, k)) + n - 1)
                        for k, v in cnt.items()
                        if v >= 2
                    )
                    cols[f"dup_{n}_frac"].append(
                        math.floor(chars / denom * 10_000 + 0.5) / 10_000
                    )
                    rep = rep or chars * 100 > total * pct
                cols["repetitive"].append(rep)
            yield pd.DataFrame(cols)

    return base.mapInPandas(kernel, schema=schema)


def gopher_repetition(docs):
    # NULL text is an EMPTY document (zeros, not NULL propagation) — the one
    # declared semantics shared by this fold, the Counter kernel, and the
    # oracle's coalesce(text, ''); pinned by the NULL-text row in the
    # kernel-equality fixture.
    d = docs.select(
        "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks")
    )
    total = F.length(F.array_join("toks", " ")).cast("long")
    tops = {n: _top_chars_fold(n) for n in _GOPHER_TOP_PCT}
    dups = {n: _dup_chars_fold(n) for n in _GOPHER_DUP_PCT}
    base = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        total.alias("total_chars"),
        *[tops[n].alias(f"top_{n}_chars") for n in _GOPHER_TOP_PCT],
        *[dups[n].alias(f"dup_{n}_chars") for n in _GOPHER_DUP_PCT],
    )
    denom = F.greatest(F.col("total_chars"), F.lit(1))
    repetitive = None
    for n, pct in _GOPHER_TOP_PCT.items():
        cond = F.col(f"top_{n}_chars") * 100 > F.col("total_chars") * pct
        repetitive = cond if repetitive is None else (repetitive | cond)
    for n, pct in _GOPHER_DUP_PCT.items():
        cond = F.col(f"dup_{n}_chars") * 100 > F.col("total_chars") * pct
        repetitive = repetitive | cond
    return base.select(
        "doc_id",
        "n_tokens",
        "total_chars",
        *[
            fround(F.col(f"top_{n}_chars") / denom, 4).alias(f"top_{n}_frac")
            for n in _GOPHER_TOP_PCT
        ],
        *[
            fround(F.col(f"dup_{n}_chars") / denom, 4).alias(f"dup_{n}_frac")
            for n in _GOPHER_DUP_PCT
        ],
        repetitive.alias("repetitive"),
    )


# C4 cleaning rules (Raffel et al. 2020 §2.2): line-level — keep only lines
# ending in terminal punctuation, with >= 5 words, not containing
# "javascript"; page-level — drop pages containing "lorem ipsum" or "{",
# and pages left with < 3 sentences (kept lines as the proxy). The fixture
# corpus is single-line word soup, so (the doc_pii_scrub precedent) a
# deterministic set of lines is injected FIRST — identical derivation in the
# DuckDB oracle — and the rules run on the derived page; the md5 of the
# kept text proves the per-line verdicts, not just their count.
_DUCK_C4_TEXT = (
    "text"
    " || chr(10) || 'this page has exactly five words.'"
    " || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'short line.' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||"
    " 'enable javascript to view this page.' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 1 THEN chr(10) ||"
    " 'another perfectly valid sentence appears here!' ELSE '' END"
    " || CASE WHEN doc_id % 2 = 1 THEN chr(10) ||"
    " 'odd documents receive one extra proper sentence.' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||"
    " 'lorem ipsum dolor sit amet consectetur.' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'config = { key: value }'"
    " ELSE '' END"
)


@register(
    "c4_line_filter",
    oracle=f"""
        WITH pages AS (
            SELECT doc_id, {_DUCK_C4_TEXT} AS page FROM documents
        ),
        split AS (
            SELECT doc_id, page, string_split(page, chr(10)) AS lines
            FROM pages
        ),
        kept AS (
            SELECT doc_id, page,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   list_filter(lines, l ->
                       regexp_matches(l, '[.!?]$')
                       AND len(list_filter(string_split(l, ' '),
                                           w -> w <> '')) >= 5
                       AND NOT contains(l, 'javascript')) AS keep_lines
            FROM split
        )
        SELECT doc_id, n_lines,
               CAST(len(keep_lines) AS BIGINT) AS n_kept_lines,
               CASE
                 WHEN contains(page, 'lorem ipsum') THEN 'lorem_ipsum'
                 WHEN contains(page, '{{') THEN 'curly_brace'
                 WHEN len(keep_lines) < 3 THEN 'too_few_sentences'
                 ELSE 'keep' END AS reason,
               md5(array_to_string(keep_lines, chr(10))) AS kept_md5
        FROM kept
    """,
    ref="the C4 cleaning heuristics (Raffel et al. 2020 §2.2 — the other "
    "canonical published filter set next to gopher_rules_filter): terminal-"
    "punctuation / >=5-word / no-'javascript' line rules, lorem-ipsum and "
    "curly-brace page drops, <3-sentence page drop. The entry runs the "
    "Arrow line-rules kernel (c4_rules_kernel — the interpreted higher-"
    "order filter chain was the only sf10-swept entry behind DuckDB, 11.1 "
    "vs 4.0 s at 500k docs); the expression chain (c4_rules) stays as the "
    "oracle-verified structural twin, equality test-pinned. Per-row map "
    "work; the only exchange is the round-robin spread of a single-file "
    "scan. kept_md5 pins the exact surviving text on both engines. "
    "Deterministic line injection (same derivation in the oracle) because "
    "the fixture corpus is single-line",
)
def c4_line_filter(spark, sf_dir):
    return c4_rules_kernel(
        T(spark, sf_dir, "documents").select("doc_id", c4_page().alias("page"))
    )


def c4_page():
    """The deterministic multi-line page derivation (single-line fixture docs
    get injected lines so the line-level rules have real pages to act on;
    ``_DUCK_C4_TEXT`` is the same derivation on the oracle side). Shared by
    the C4 entry and the paragraph-dedup entry — the injected lines are also
    exact CROSS-document duplicate paragraphs, which is precisely the
    workload corpus-level paragraph dedup exists for."""
    nl = F.lit("\n")

    def inject(cond, line):
        return F.when(cond, F.concat(nl, F.lit(line))).otherwise(F.lit(""))

    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        nl,
        F.lit("this page has exactly five words."),
        inject(did % 2 == 0, "short line."),
        inject(did % 3 == 0, "enable javascript to view this page."),
        inject(did % 3 == 1, "another perfectly valid sentence appears here!"),
        inject(did % 2 == 1, "odd documents receive one extra proper sentence."),
        inject(did % 5 == 0, "lorem ipsum dolor sit amet consectetur."),
        inject(did % 7 == 0, "config = { key: value }"),
    )


def c4_rules_kernel(pages):
    """Arrow-kernel twin of :func:`c4_rules` — identical output by
    construction (every operation is a string comparison / count / md5; no
    float arithmetic at all, so there is no IEEE-op-order subtlety; equality
    is pinned in tests against the expression chain on the fixture corpus
    plus crafted CRLF/NULL pages).

    Why it exists: the expression chain — a higher-order ``F.filter`` whose
    predicate nests a second split+filter per line — runs interpreted, and
    was the ONLY sf10-swept entry losing to DuckDB (11.1 s vs 4.0 s at 500k
    docs in the r6 artifact). Same precedent as
    :func:`gopher_repetition_kernel` (49.3 → 9.6 s at sf1): move the per-row
    work into plain Python string ops over Arrow batches, keep the
    expression chain as the oracle-verified structural twin. Entirely
    map-side; the only exchange is the deliberate round-robin spread of a
    single-file scan."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..session import ensure_parallelism

    id_type = pages.schema["doc_id"].dataType
    schema = StructType(
        [
            StructField("doc_id", id_type, False),
            StructField("n_lines", LongType(), False),
            StructField("n_kept_lines", LongType(), False),
            StructField("reason", StringType(), False),
            StructField("kept_md5", StringType(), False),
        ]
    )
    base = ensure_parallelism(pages.select("doc_id", "page"))
    terminal = (".", "!", "?")

    def kernel(batches):
        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in schema.fieldNames()}
            ids = pdf["doc_id"]
            texts = pdf["page"]
            for pos in range(len(pdf)):
                page = texts.iloc[pos]
                if page is None:  # NULL page = empty page (both paths)
                    page = ""
                lines = page.split("\n")
                kept = [
                    l
                    for l in lines
                    if l[-1:] in terminal
                    and sum(1 for w in l.split(" ") if w) >= 5
                    and "javascript" not in l
                ]
                if "lorem ipsum" in page:
                    reason = "lorem_ipsum"
                elif "{" in page:
                    reason = "curly_brace"
                elif len(kept) < 3:
                    reason = "too_few_sentences"
                else:
                    reason = "keep"
                cols["doc_id"].append(ids.iloc[pos])
                cols["n_lines"].append(len(lines))
                cols["n_kept_lines"].append(len(kept))
                cols["reason"].append(reason)
                cols["kept_md5"].append(md5_hex("\n".join(kept)))
            yield pd.DataFrame(cols)

    return base.mapInPandas(kernel, schema=schema)


def c4_rules(pages):
    """The C4 line/page rule chain over any (doc_id, page) frame — split from
    the entry so the pure-Python reference test can run it on crafted
    multi-line fixtures (same external-ground-truth rationale as
    :func:`gopher_rules`). The registered entry runs the bit-identical
    :func:`c4_rules_kernel`; this expression chain is the oracle-verified
    structural twin (the equality test pins them together)."""
    # NULL page = empty page, in both paths (the gopher_repetition NULL rule)
    pages = pages.select(
        "doc_id", F.coalesce(F.col("page"), F.lit("")).alias("page")
    )
    lines = F.split(F.col("page"), "\n")
    # terminal punctuation is checked on the literal LAST CHARACTER, never a
    # '$'-anchored regex: Java's '$' also matches just before a final line
    # terminator (a trailing '\r' left by CRLF pages after split on '\n'),
    # while the DuckDB oracle's RE2 '$' and the Python reference's l[-1:]
    # anchor at true end-of-string — the substring check makes all three
    # agree on CRLF input (pinned by the CRLF fixture in the reference test)
    keep_lines = F.filter(
        lines,
        lambda l: F.substring(l, -1, 1).isin(".", "!", "?")
        & (F.size(F.filter(F.split(l, " "), lambda w: w != "")) >= 5)
        & ~l.contains("javascript"),
    )
    base = (
        pages
        .select(
            "doc_id",
            "page",
            F.size(lines).cast("long").alias("n_lines"),
            keep_lines.alias("keep_lines"),
        )
    )
    reason = (
        F.when(F.col("page").contains("lorem ipsum"), "lorem_ipsum")
        .when(F.col("page").contains("{"), "curly_brace")
        .when(F.size("keep_lines") < 3, "too_few_sentences")
        .otherwise("keep")
    )
    return base.select(
        "doc_id",
        "n_lines",
        F.size("keep_lines").cast("long").alias("n_kept_lines"),
        reason.alias("reason"),
        F.md5(F.array_join("keep_lines", "\n")).alias("kept_md5"),
    )


@register(
    "doc_bigram_logprob",
    oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                   WHERE len({_TOKS}) >= 2),
        ex AS (
            SELECT doc_id,
                   unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
                   unnest(list_slice(toks, 2, len(toks))) AS w2
            FROM d
        ),
        uni AS (
            SELECT w, count(*) AS u FROM
                (SELECT unnest({_TOKS}) AS w FROM documents)
            GROUP BY w
        ),
        bg AS (SELECT w1, w2, count(*) AS c2 FROM ex GROUP BY w1, w2),
        scored AS (
            SELECT ex.doc_id, ln(bg.c2 * 1.0 / uni.u) AS lnp
            FROM ex JOIN bg USING (w1, w2) JOIN uni ON uni.w = ex.w1
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   list_reduce(list(lnp ORDER BY lnp), (a, b) -> a + b) AS s
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams,
               {duck_fround('s / n_bigrams', 4)} AS avg_logprob
        FROM per_doc
    """,
    ref="bigram-LM corpus fit score (the CCNet-style perplexity filter, with the LM "
    "trained on the corpus itself): avg ln P(w2|w1) per document under MLE counts. "
    "The per-doc float sum folds over the VALUE-SORTED logprob list on both engines "
    "(sorted left-fold — identical IEEE op order), never an unordered SUM, so the "
    "order-dependent accumulation cannot diverge",
)
def doc_bigram_logprob(spark, sf_dir):
    # Persist the TOKEN ARRAYS, not the exploded bigram stream (round-10
    # rework, same shape as ccnet_lm_buckets): the bigram counts, the
    # scoring join, and the unigram model all explode from one cached
    # per-doc array frame — the r9 exploded-row persist paid a 26.6M-row
    # string cache write plus a separate full tokenize scan for unigrams
    # (sf10 A/B 14.0 -> 8.9 s min, artifacts/ccnet_toks_ab_r10.json).
    base, _ = owned_persist(
        T(spark, sf_dir, "documents").select(
            "doc_id", tokens(F.col("text")).alias("toks")
        )
    )
    d = base.filter(F.size("toks") >= 2)
    n = F.size("toks")
    pairs = F.arrays_zip(
        F.slice("toks", 1, n - 1).alias("w1"), F.slice("toks", 2, n - 1).alias("w2")
    )
    ex = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("u"))
    )
    bg = ex.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # compose the model ONCE at vocabulary size (distinct bigrams ⋈ unigrams)
    # and hit the corpus-scale bigram stream with a single join — the
    # ccnet_lm_buckets A/B measured the two-join shape 1.5x slower at sf1
    # (8.2 vs 5.6 s); lnp per DISTINCT bigram is the same double each
    # instance would compute, so the sorted per-doc fold is unchanged
    model = bg.join(uni, bg.w1 == uni.w).select(
        "w1", "w2", F.log(F.col("c2") * 1.0 / F.col("u")).alias("lnp")
    )
    scored = ex.join(model, ["w1", "w2"]).select("doc_id", "lnp")
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.aggregate(
            F.sort_array(F.collect_list("lnp")), F.lit(0.0), lambda a, x: a + x
        ).alias("s"),
    )
    return per_doc.select(
        "doc_id", "n_bigrams", fround(F.col("s") / F.col("n_bigrams"), 4).alias("avg_logprob")
    )


# ---------------------------------------------------------------------------
# corpus shuffle + split assignment (the last steps before training)
# ---------------------------------------------------------------------------


@register(
    "corpus_global_shuffle",
    oracle="""
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY md5(doc_id::VARCHAR || ':shuf:42'), doc_id
               ) AS BIGINT) AS shuffle_pos
        FROM documents
    """,
    ref="deterministic global corpus shuffle — the final step before training "
    "consumption: position = rank under md5(id || seed). Seeded-hash ordering "
    "is reproducible across engines and runs (rand() is not), and the rank is "
    "computed with repartitionByRange on the hash (Spark's global orderBy "
    "range-partitions the same way) — no single-partition window. Re-shuffling "
    "= changing the seed; the md5 tiebreak (doc_id) makes the order total",
)
def corpus_global_shuffle(spark, sf_dir):
    from ..operators.sort import global_rank

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shuf:42"))).alias(
            "__h"
        ),
    )
    ranked = global_rank(d, [F.col("__h"), F.col("doc_id")], rank_name="shuffle_pos")
    return ranked.select("doc_id", "shuffle_pos")


@register(
    "corpus_split_assign",
    oracle="""
        WITH a AS (
            SELECT doc_id,
                   (('0x' || substr(md5(doc_id::VARCHAR || ':split:7'), 1, 15))::BIGINT)
                       % 100 AS bucket
            FROM documents
        )
        SELECT CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM a GROUP BY 1
    """,
    ref="deterministic train/val/test split assignment (90/5/5): the split of a "
    "document is a pure function of md5(id || seed) — stable under corpus growth "
    "(adding docs never moves existing ones between splits, unlike rand() or "
    "modulo-on-row-number), map-side only, and identical in both engines. "
    "Summarized per split for a stable compare",
)
def corpus_split_assign(spark, sf_dir):
    from ..functions.dedup import md5_long

    d = T(spark, sf_dir, "documents")
    bucket = md5_long(
        F.concat(F.col("doc_id").cast("string"), F.lit(":split:7"))
    ) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return d.select(split.alias("split"), "doc_id").groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Systematic PPS sampling (probability proportional to size)
# ---------------------------------------------------------------------------

_PPS_N = 1000  # sample points (a token budget expressed in draws)


@register(
    "corpus_pps_sample",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok,
                   md5(doc_id::VARCHAR || ':pps:13') AS h
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_tok,
                   sum(n_tok) OVER (ORDER BY h, doc_id) AS hi,
                   sum(n_tok) OVER () AS total
            FROM w
        ),
        m AS (
            SELECT doc_id, n_tok,
                   CAST(
                     LEAST({_PPS_N}, GREATEST(0,
                       ({2 * _PPS_N} * hi - total + 2 * total - 1) // (2 * total)))
                     - LEAST({_PPS_N}, GREATEST(0,
                       ({2 * _PPS_N} * (hi - n_tok) - total + 2 * total - 1) // (2 * total)))
                     AS BIGINT) AS mult
            FROM c
        )
        SELECT doc_id, n_tok, mult FROM m WHERE mult > 0
    """,
    ref="systematic PPS sampling (probability proportional to size) — the "
    "survey-sampling way to draw a token-budgeted subset: docs line up on the "
    "cumulative token axis in a deterministic md5 order, and the k-th of n "
    "sample points lands at floor(total*(2k+1)/(2n)) (midpoint systematic); a "
    "doc is drawn once per point inside its [hi-n_tok, hi) interval, so "
    "inclusion probability is exactly proportional to token count and "
    "sum(mult) == n by construction. Complements corpus_temperature_sample "
    "(rate-based) and domain_quota_filter (top-N): PPS is how you downsample "
    "a corpus to a fixed token budget without a rate sweep. All arithmetic is "
    "exact BIGINT (points are never materialized: the count of points below x "
    "is the closed form clamp(ceil((2n*x - total)/(2*total)), 0, n), portable "
    "because both engines' integer division agrees after the clamp); prefix "
    "sums via the two-phase global_running_total, never a single-partition "
    "window; the 1-row total broadcasts. Exact while 2n*total < 2^63.",
)
def corpus_pps_sample(spark, sf_dir):
    from ..operators.sort import global_running_total

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":pps:13"))).alias(
            "__h"
        ),
    )
    run = global_running_total(
        d, [F.col("__h"), F.col("doc_id")], "n_tok", total_name="hi"
    )
    total = d.agg(F.sum("n_tok").alias("__total"))
    n, n2 = _PPS_N, 2 * _PPS_N
    cnt_hi = (
        f"least({n}, greatest(0, "
        f"({n2} * hi - __total + 2 * __total - 1) div (2 * __total)))"
    )
    cnt_lo = (
        f"least({n}, greatest(0, "
        f"({n2} * (hi - n_tok) - __total + 2 * __total - 1) div (2 * __total)))"
    )
    return (
        run.crossJoin(F.broadcast(total))
        .withColumn("mult", F.expr(f"{cnt_hi} - {cnt_lo}").cast("long"))
        .filter(F.col("mult") > 0)
        .select("doc_id", "n_tok", "mult")
    )


# ---------------------------------------------------------------------------
# Quality-classifier inference (quantized linear model, integer-exact)
# ---------------------------------------------------------------------------

# Integer micro-unit weights of a quantized linear quality model (the
# fastText/logistic "keep this document?" classifier after int quantization —
# the inference idiom a 100 TB filter stage actually runs; training happens
# offline). All features are exact BIGINT counts, so z is an exact BIGINT and
# the keep decision has no float boundary on either engine.
_QW = {
    "intercept": -2_000_000,
    "w_tok": 9_000,       # longer docs are better ...
    "w_char": -900,       # ... unless they're just long words/noise
    "w_stop": 120_000,    # stopword hits indicate natural language
    "w_punct": -55_000,   # heavy punctuation indicates markup/boilerplate
    "w_digit": -12_000,   # digit soup indicates tables/serial dumps
}

_STOP_IN = ", ".join(f"'{w}'" for w in ("the", "a", "of", "and", "to"))


@register(
    "quality_classifier_score",
    oracle=f"""
        WITH f AS (
            SELECT doc_id,
                   len({_TOKS}) AS n_tok,
                   length(text) AS n_char,
                   len(list_filter({_TOKS}, x -> x IN ({_STOP_IN}))) AS n_stop,
                   length(lower(text))
                     - length(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'))
                     AS n_punct,
                   length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                     AS n_digit
            FROM documents
        )
        SELECT doc_id,
               CAST({_QW['intercept']}
                    + {_QW['w_tok']} * n_tok
                    + {_QW['w_char']} * n_char
                    + {_QW['w_stop']} * n_stop
                    + {_QW['w_punct']} * n_punct
                    + {_QW['w_digit']} * n_digit AS BIGINT) AS z_micro,
               ({_QW['intercept']}
                    + {_QW['w_tok']} * n_tok
                    + {_QW['w_char']} * n_char
                    + {_QW['w_stop']} * n_stop
                    + {_QW['w_punct']} * n_punct
                    + {_QW['w_digit']} * n_digit) > 0 AS keep
        FROM f
    """,
    ref="quality-classifier inference: a quantized linear model (integer "
    "micro-unit weights over exact count features) scoring every document "
    "map-side — the model-based filter stage between doc_quality's hand "
    "heuristics and corpus_filter_pipeline's rule list. Zero shuffles, zero "
    "UDFs: five count features fold into one BIGINT logit inside whole-stage "
    "codegen, and the keep boundary is integer-exact (no sigmoid needed — "
    "sign(z) decides; exp() is not bit-portable across engines and is "
    "deliberately avoided). Reference surface: Mapper.map per-record scoring "
    "(MR-CORE .../mapreduce/Mapper.java:123)",
)
def quality_classifier_score(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    toks = tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_char = F.length("text").cast("long")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to"))
    ).cast("long")
    # Single-pass translate count == the [^a-z0-9\s] regexp_replace count
    # (Java \s = exactly the 6 chars in WS_CHARS): measured 19.8 s → 0.9 s
    # over the sf10 fixture, 0 mismatches (OPTIMIZATION_r11.md). The oracle
    # keeps the regex formulation — the driver hash-compare pins equality.
    n_punct = F.length(
        F.translate(lt, ALNUM_LOWER + WS_CHARS, "")
    ).cast("long")
    n_digit = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
    ).cast("long")
    z = (
        F.lit(_QW["intercept"])
        + F.lit(_QW["w_tok"]) * n_tok
        + F.lit(_QW["w_char"]) * n_char
        + F.lit(_QW["w_stop"]) * n_stop
        + F.lit(_QW["w_punct"]) * n_punct
        + F.lit(_QW["w_digit"]) * n_digit
    ).cast("long")
    return d.select("doc_id", z.alias("z_micro"), (z > 0).alias("keep"))


# ---------------------------------------------------------------------------
# Domain-mixture weights (downsample-to-uniform rate table)
# ---------------------------------------------------------------------------


@register(
    "mix_domain_weights",
    oracle="""
        WITH per_src AS (
            SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ),
        tot AS (
            SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                   count(*) AS n_src
            FROM per_src
        )
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(least(1000000 * total // (n_src * n_docs), 1000000)
                    AS BIGINT) AS rate_ppm,
               CAST(n_docs * least(1000000 * total // (n_src * n_docs), 1000000)
                    // 1000000 AS BIGINT) AS expected_kept
        FROM per_src, tot
    """,
    ref="domain-mixture rebalancing: per-source keep rates that downsample an "
    "imbalanced corpus toward the uniform target share (the W(domain) table of "
    "a data-mixing stage; complements corpus_temperature_sample's 1/sqrt "
    "temperature rule). Rates are exact integer ppm — 1e6*total//(n_src*n_docs), "
    "capped at 1e6 so over-represented sources downsample and rare sources keep "
    "everything (never upsampled) — so the rate table is bit-identical across "
    "engines with no float share in sight. Scale shape: per-source counts are a "
    "partial-agg groupBy; the 1-row (total, n_src) aggregate cross-joins back "
    "broadcast, exactly the idle_customers_topbal scalar-subquery pattern",
)
def mix_domain_weights(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per_src.agg(
        F.sum("n_docs").cast("long").alias("total"), F.count("*").alias("n_src")
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate_ppm",
            F.least(
                F.expr("(1000000 * total) DIV (n_src * n_docs)"),
                F.lit(1000000).cast("long"),
            ),
        )
        .withColumn(
            "expected_kept", F.expr("(CAST(n_docs AS BIGINT) * rate_ppm) DIV 1000000")
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "rate_ppm",
            "expected_kept",
        )
    )


# ---------------------------------------------------------------------------
# Per-domain quota cap (exact top-N per source, skew-safe)
# ---------------------------------------------------------------------------

_QUOTA_CAP = 15
_QUOTA_SALTS = 16


@register(
    "domain_quota_filter",
    oracle=f"""
        WITH ranked AS (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id::VARCHAR || ':quota'), doc_id
                   ) AS rnk
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN rnk <= {_QUOTA_CAP} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(min(CASE WHEN rnk <= {_QUOTA_CAP} THEN doc_id END) AS BIGINT)
                   AS min_kept_doc,
               CAST(sum(CASE WHEN rnk <= {_QUOTA_CAP} THEN doc_id ELSE 0 END) AS BIGINT)
                   AS kept_id_sum
        FROM ranked GROUP BY source
    """,
    ref="per-domain quota cap — the crawl-pipeline rule 'keep at most N pages "
    "per domain' (hard cap, vs mix_domain_weights' proportional rates). "
    "Selection order is the md5 of the doc id (a deterministic uniform shuffle "
    "— no crawl-order bias, reproducible across engines/runs). Scale shape: a "
    "single window PARTITION BY source would put a hot domain's billions of "
    "rows in one partition; instead selection is two-level exact top-N — "
    "md5-rank within (source, salt) keeps <= N per salted group ({S} groups), "
    "then the <= N*{S} survivors per source rank once more. Both windows have "
    "bounded partitions at ANY domain skew, and level-1 drops all but "
    "N*{S} rows per domain before any cross-salt movement. Top-N-of-top-N is "
    "exact (every global top-N row is top-N in its salt group)".format(
        S=_QUOTA_SALTS
    ),
)
def domain_quota_filter(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.dedup import md5_long

    d = T(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":quota"))).alias("rk"),
    )
    salt = (md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":salt")))
            % _QUOTA_SALTS)
    lvl1 = Window.partitionBy("source", "salt").orderBy("rk", "doc_id")
    lvl2 = Window.partitionBy("source").orderBy("rk", "doc_id")
    survivors = (
        d.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(lvl1))
        .filter(F.col("r1") <= _QUOTA_CAP)
        .withColumn("rnk", F.row_number().over(lvl2))
    )
    kept = survivors.filter(F.col("rnk") <= _QUOTA_CAP).groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.min("doc_id").cast("long").alias("min_kept_doc"),
        F.sum("doc_id").cast("long").alias("kept_id_sum"),
    )
    totals = d.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    return totals.join(kept, "source").select(
        "source", "n_docs", "n_kept", "min_kept_doc", "kept_id_sum"
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup (crawl-pipeline identity)
# ---------------------------------------------------------------------------

# Synthetic-but-deterministic URLs (the documents table has no URL column —
# same derivation on both engines, the doc_pii_scrub precedent): scheme and
# host case vary, some carry www., a tracking query string, a fragment, or a
# trailing slash — exactly the noise URL canonicalization exists to remove.
_DUCK_URL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END || '://' "
    "|| CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END "
    "|| source || '.example.com/Docs/' || (doc_id % 100)::VARCHAR "
    "|| CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END "
    "|| CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x&ref=' "
    "|| (doc_id % 7)::VARCHAR ELSE '' END "
    "|| CASE WHEN doc_id % 6 = 0 THEN '#sec' || (doc_id % 3)::VARCHAR ELSE '' END"
)


def _spark_url() -> F.Column:
    did = F.col("doc_id")
    return F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com/Docs/"),
        (did % 100).cast("string"),
        F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign=x&ref="),
                (did % 7).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 6 == 0, F.concat(F.lit("#sec"), (did % 3).cast("string"))
        ).otherwise(F.lit("")),
    )


# Canonicalization, one regex pipeline on both engines:
# 1. strip the fragment;  2. strip the query string entirely (tracking-only
# params in this corpus — a param allowlist is the same replace with a
# keep-group);  3. lowercase scheme+host (path case is significant, RFC 3986);
# 4. drop www.;  5. drop a trailing slash.


@register(
    "url_normalize_dedup",
    oracle=f"""
        WITH u AS (SELECT doc_id, source, {_DUCK_URL} AS url FROM documents),
        c AS (
            SELECT doc_id, url,
                   regexp_replace(
                     regexp_replace(
                       lower(regexp_extract(url, '^[^:]+://[^/]*', 0))
                         || regexp_replace(
                              regexp_replace(regexp_replace(url, '#.*$', ''),
                                             '\\?.*$', ''),
                              '^[^:]+://[^/]*', ''),
                       '^(https?)://www\\.', '\\1://'),
                     '/$', '') AS canon
            FROM u
        )
        SELECT canon,
               CAST(count(*) AS BIGINT) AS n_variants,
               CAST(min(doc_id) AS BIGINT) AS kept_doc,
               CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw
        FROM c GROUP BY canon
    """,
    ref="URL canonicalization + dedup — the crawl-pipeline identity step "
    "(strip fragment, strip tracking query, lowercase scheme+host ONLY — "
    "path case is significant per RFC 3986 — drop www., drop trailing "
    "slash) collapsing scheme/case/www/tracking variants of one page to one "
    "canonical key; keep = min doc_id per key (dedup_exact's rule applied to "
    "the URL identity instead of the text fingerprint). Pure map-side "
    "string expressions + one groupBy — zero joins; the same regex pipeline "
    "evaluates in both engines (character classes only, no \\d/\\w)",
)
def url_normalize_dedup(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    url = _spark_url()
    no_frag = F.regexp_replace(url, "#.*$", "")
    no_query = F.regexp_replace(no_frag, r"\?.*$", "")
    hostpart = F.lower(F.regexp_extract(url, "^[^:]+://[^/]*", 0))
    rest = F.regexp_replace(no_query, "^[^:]+://[^/]*", "")
    canon = F.regexp_replace(
        F.regexp_replace(F.concat(hostpart, rest), r"^(https?)://www\.", "$1://"),
        "/$",
        "",
    )
    return (
        d.select("doc_id", url.alias("url"), canon.alias("canon"))
        .groupBy("canon")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").cast("long").alias("kept_doc"),
            F.countDistinct("url").alias("n_distinct_raw"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance resampling (data selection)
# ---------------------------------------------------------------------------


def _dsir_log_ratios(spark, cnt):
    """DSIR's 512-entry log-ratio gather table from the collected fit rows.

    ``cnt`` holds the ≤512 (b, cs, ct) bucket counts, so the fit is that one
    collect: the totals are exact Python int sums of it, and the log-ratios
    are Spark's own ``log`` over an inline VALUES relation (a local relation,
    which runs no job). Buckets no token hashed to stay NaN.
    """
    import numpy as np

    lr_arr = np.full(512, np.nan, dtype=np.float64)
    if not cnt:
        return lr_arr
    ns = sum(r["cs"] for r in cnt)
    nt = sum(r["ct"] for r in cnt)
    rows = ", ".join(f"({r['b']}L, {r['cs']}L, {r['ct']}L)" for r in cnt)
    lr = spark.sql(
        f"SELECT *, {ns}L AS ns, {nt}L AS nt FROM VALUES {rows} AS cnt(b, cs, ct)"
    ).select(
        "b",
        (
            F.log((F.col("ct") + 1) * 1.0 / (F.col("nt") + 512))
            - F.log((F.col("cs") + 1) * 1.0 / (F.col("ns") + 512))
        ).alias("lr"),
    )
    for row in lr.collect():
        lr_arr[row["b"]] = row["lr"]
    return lr_arr


@register(
    "dsir_importance_select",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents
        ),
        ex AS (
            SELECT doc_id,
                   (lang = 'en' AND source IN ('src0', 'src1', 'src2'))
                       AS is_tgt,
                   {{MD5B}} % 512 AS b
            FROM (SELECT doc_id, lang, source, unnest(toks) AS tok FROM d)
        ),
        cnt AS (
            SELECT b, count(*) AS cs,
                   sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS ct
            FROM ex GROUP BY b
        ),
        tot AS (
            SELECT count(*) AS ns,
                   sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS nt
            FROM ex
        ),
        lr AS (
            SELECT b, ln((ct + 1) * 1.0 / (nt + 512))
                    - ln((cs + 1) * 1.0 / (ns + 512)) AS lr
            FROM cnt, tot
        ),
        per_doc AS (
            SELECT ex.doc_id,
                   CAST(count(*) AS BIGINT) AS n_toks,
                   list_reduce(list(lr ORDER BY lr), (a, x) -> a + x) AS w
            FROM ex JOIN lr USING (b)
            GROUP BY ex.doc_id
        ),
        ranked AS (
            SELECT doc_id, n_toks,
                   {duck_fround('w / n_toks', 4)} AS avg_weight
            FROM per_doc
        )
        SELECT doc_id, n_toks, avg_weight,
               CAST(row_number() OVER (ORDER BY avg_weight DESC, doc_id)
                    AS BIGINT) AS rank
        FROM ranked
        ORDER BY avg_weight DESC, doc_id
        LIMIT 100
    """.replace("{MD5B}", "(('0x' || substr(md5(tok), 1, 15))::BIGINT)"),
    ref="DSIR-style data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling' — public paper): hashed "
    "n-gram features (here unigrams into 512 md5 buckets), add-1-smoothed "
    "bucket multinomials for a curated TARGET slice (en docs from "
    "src0-src2) vs the RAW corpus, per-token importance log-ratio "
    "ln p_T(b) - ln p_S(b), per-doc average weight, top-100 selection. "
    "Plan shape for 100 TB: the FIT pass is one Arrow kernel emitting "
    "<=512 partial-count rows per batch into a bounded 512-row groupBy, "
    "collected; totals are exact int sums of those rows and the log-ratios "
    "Spark's ln over an inline VALUES relation (no job); the 512-row "
    "log-ratio table rides into the "
    "APPLY kernel as a collected gather table (nothing token-sized ever "
    "shuffles — the per-doc weights come out of the kernel final); top-k "
    "is TakeOrdered, then row_number on the 100-row result only. "
    "DELIBERATE two-pass fit/apply over the same pruned columnar scan: "
    "the token stream is ~5x the corpus, so persisting it to save the "
    "second scan would trade cheap re-computation for a materialization "
    "LARGER than the input; canonical DSIR is fit-then-apply two-pass for "
    "the same reason. Portability per NOTES.md: ln on ratios of exact "
    "integers, per-doc sum as the VALUE-SORTED left fold (identical IEEE "
    "order on both engines), fround'd average, (weight, doc_id) total "
    "order. DSIR's Gumbel-noise resampling step is replaced by the "
    "deterministic top-k (seeded-hash noise would be the "
    "corpus_temperature_sample pattern)",
)
def dsir_importance_select(spark, sf_dir):
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", tokens(F.col("text")).alias("toks")
    )
    is_tgt = (F.col("lang") == "en") & F.col("source").isin("src0", "src1", "src2")

    # r12 (guide §4.2, the prf_rm3 precedent): both DSIR passes previously
    # exploded the ~27M-token stream and ran one interpreted md5+conv per
    # token (fit) plus a collect_list/sort_array/interpreted-HOF fold per
    # document (apply). Each pass is now ONE Arrow kernel over the per-doc
    # token arrays: tokens dictionary-encode per batch, each unique string
    # gets its bucket md5_long(tok) % 512 through the shared md5np.Md5Intern
    # (Zipf — md5 runs about once per vocabulary word), tokens take it by a
    # numpy gather, and per-batch bincounts reduce the fit pass to ≤512
    # partial rows. The apply pass gathers each token's log-ratio, lexsorts within
    # the batch by (doc, lr), and folds per document with one vectorized add
    # per token position — acc starts at 0.0 and adds ascending-sorted
    # values sequentially, the bit-exact image of the expression path's
    # ``aggregate(sort_array(collect_list(lr)), 0.0, a+x)`` (no -0.0 exists:
    # equal logs subtract to +0.0). Tokenization stays the Spark ``tokens``
    # expression on both passes — the kernels never re-implement it.

    def _flat(rb, col_idx):
        toks = rb.column(col_idx)
        if toks.null_count:
            toks = pc.fill_null(toks, [])
        lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
        enc = pc.list_flatten(toks).dictionary_encode()
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        return lens, enc.dictionary.to_pylist(), idx

    def _buckets(intern, dict_vals):
        return np.array(intern.hash_all(dict_vals), dtype=np.int64) % 512

    def fit_kernel(batches):
        intern = Md5Intern()
        for rb in batches:
            tgt = pc.fill_null(rb.column(0), False).to_numpy(
                zero_copy_only=False
            ).astype(bool)
            lens, dict_vals, idx = _flat(rb, 1)
            if not len(idx):
                continue
            b = _buckets(intern, dict_vals)[idx]
            cs = np.bincount(b, minlength=512)
            ct = np.bincount(b[np.repeat(tgt, lens)], minlength=512)
            nz = np.nonzero(cs)[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(nz, type=pa.int64()),
                    pa.array(cs[nz], type=pa.int64()),
                    pa.array(ct[nz], type=pa.int64()),
                ],
                names=["b", "cs", "ct"],
            )

    cnt = (
        d.select(is_tgt.alias("is_tgt"), "toks")
        .mapInArrow(fit_kernel, "b long, cs long, ct long")
        .groupBy("b")
        .agg(F.sum("cs").alias("cs"), F.sum("ct").alias("ct"))
        .collect()
    )
    # the 512-row log-ratio table rides into the apply kernel as a plain
    # numpy gather table (same doubles Spark computed — collected, not
    # re-derived)
    lr_arr = _dsir_log_ratios(spark, cnt)

    def apply_kernel(batches):
        intern = Md5Intern()
        for rb in batches:
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            lens, dict_vals, idx = _flat(rb, 1)
            n = len(ids)
            if not n:
                continue
            keep = lens > 0
            if not keep.any():
                continue
            vals = (
                lr_arr[_buckets(intern, dict_vals)[idx]]
                if len(idx)
                else np.empty(0, dtype=np.float64)
            )
            doc_pos = np.repeat(np.arange(n, dtype=np.int64), lens)
            order = np.lexsort((vals, doc_pos))
            sv = vals[order]
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            acc = np.zeros(n, dtype=np.float64)
            for i in range(int(lens.max())):
                sel = lens > i
                acc[sel] += sv[starts[sel] + i]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[keep], type=pa.int64()),
                    pa.array(lens[keep], type=pa.int64()),
                    pa.array(acc[keep], type=pa.float64()),
                ],
                names=["doc_id", "n_toks", "w"],
            )

    per_doc = d.select("doc_id", "toks").mapInArrow(
        apply_kernel, "doc_id long, n_toks long, w double"
    )
    ranked = per_doc.select(
        "doc_id", "n_toks", fround(F.col("w") / F.col("n_toks"), 4).alias("avg_weight")
    )
    top = ranked.orderBy(F.col("avg_weight").desc(), "doc_id").limit(100)
    wnd = Window.orderBy(F.col("avg_weight").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(wnd).cast("long"))


# ---------------------------------------------------------------------------
# corpus-level paragraph dedup (C4 span dedup / RefinedWeb line dedup)
# ---------------------------------------------------------------------------


def paragraph_dedup(pages):
    """Corpus-wide exact paragraph dedup over a (doc_id, page) frame: every
    distinct paragraph survives exactly ONCE in the whole corpus — at its
    first occurrence under (doc_id, pos) order — and every other occurrence
    (cross-document AND within-document repeats) is dropped; each document's
    surviving paragraphs are reassembled in original order.

    Scale shape: winner election is a groupBy(para).min(struct(doc_id, pos))
    — partial aggregation collapses a boilerplate paragraph's millions of
    occurrences map-side, so the hot key ships one row per partition, not one
    per occurrence. The keep test joins back on the FULL (para, doc_id, pos)
    key, which is unique on both sides — the join is skew-free by
    construction no matter how hot a paragraph is (the hot-key fan-out that
    would plague a para-only join never forms). Reassembly state is bounded
    per document.
    """
    paras = pages.select(
        "doc_id", F.posexplode(F.split("page", "\n")).alias("pos", "para")
    )
    winners = (
        paras.groupBy("para")
        .agg(F.min(F.struct("doc_id", "pos")).alias("w"))
        .select(
            "para",
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.pos").alias("pos"),
            F.lit(1).alias("won"),
        )
    )
    flagged = paras.join(winners, ["para", "doc_id", "pos"], "left")
    kept_arr = F.transform(
        F.filter(
            F.sort_array(F.collect_list(F.struct("pos", "won", "para"))),
            lambda x: x["won"].isNotNull(),
        ),
        lambda x: x["para"],
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.coalesce(F.sum("won"), F.lit(0)).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept_arr, "\n")).alias("kept_md5"),
    )


@register(
    "dedup_paragraphs",
    oracle=f"""
        WITH pages AS (SELECT doc_id, {_DUCK_C4_TEXT} AS page FROM documents),
        lists AS (SELECT doc_id, string_split(page, chr(10)) AS l FROM pages),
        paras AS (
            SELECT doc_id,
                   CAST(struct_extract(u, 'pos') AS BIGINT) AS pos,
                   struct_extract(u, 'para') AS para
            FROM (SELECT doc_id,
                         unnest(list_transform(range(len(l)),
                             i -> {{'pos': i, 'para': l[i + 1]}})) AS u
                  FROM lists)
        ),
        flagged AS (
            SELECT doc_id, pos, para,
                   CASE WHEN row_number() OVER (
                            PARTITION BY para ORDER BY doc_id, pos) = 1
                        THEN 1 ELSE 0 END AS won
            FROM paras
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(sum(won) AS BIGINT) AS n_kept,
               md5(coalesce(string_agg(CASE WHEN won = 1 THEN para END,
                                       chr(10) ORDER BY pos), '')) AS kept_md5
        FROM flagged GROUP BY doc_id
    """,
    ref="corpus-LEVEL exact paragraph dedup — C4's span dedup (Raffel et al. "
    "2020 §2.2: repeated spans removed corpus-wide, one occurrence kept) / "
    "RefinedWeb's exact line dedup (Penedo et al. 2023 §G): every distinct "
    "paragraph survives exactly once (first occurrence by (doc_id, pos)), "
    "all other copies — cross-document and within-document — are dropped, "
    "and documents are reassembled from their surviving paragraphs. "
    "Complements dedup_exact (whole-doc) and dedup_exact_substring (span "
    "pairs): this is the REWRITING dedup that edits documents. Pages come "
    "from the same deterministic multi-line derivation as c4_line_filter "
    "(c4_page — the injected lines ARE exact cross-document duplicates, the "
    "precise workload). kept_md5 pins the surviving text per document on "
    "both engines. Winner election is map-side-combined groupBy(para); the "
    "keep test joins on the unique (para, doc_id, pos) key — skew-free at "
    "any paragraph hotness (see paragraph_dedup docstring)",
)
def dedup_paragraphs(spark, sf_dir):
    return paragraph_dedup(
        T(spark, sf_dir, "documents").select("doc_id", c4_page().alias("page"))
    )


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (head / middle / tail)
# ---------------------------------------------------------------------------


def ccnet_bucket(docs):
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4) over a
    (doc_id, lang, n_chars, score_ppm) frame: within each language, order by
    LM score (most fluent first) and cut the corpus into thirds by CUMULATIVE
    CHARACTER volume — CCNet buckets by size fraction, not document count.

    Exact everywhere: the bucket test is integer cross-multiplication
    (3 * prefix < total) on an EXCLUSIVE prefix sum, so the first document of
    a language is always 'head' even when it alone exceeds a third of the
    volume, and no float division ever decides a boundary.

    Scale shape: the prefix sum is the two-phase global_running_total
    (range-partition on (lang, score DESC, doc_id), per-partition offsets) —
    never a single-partition window, and with language as the leading range
    key no executor ever holds a language's whole corpus. Per-language base
    and total are a |langs|-row aggregate, broadcast back.
    """
    from ..operators.sort import global_running_total

    cum = global_running_total(
        docs,
        [F.col("lang"), F.col("score_ppm").desc(), F.col("doc_id")],
        "n_chars",
        total_name="cum",
    ).withColumn("cum_excl", F.col("cum") - F.col("n_chars"))
    lang_stats = cum.groupBy("lang").agg(
        F.min("cum_excl").alias("base"), F.sum("n_chars").alias("tot")
    )
    rel = F.col("cum_excl") - F.col("base")
    bucket = (
        F.when(rel * 3 < F.col("tot"), "head")
        .when(rel * 3 < F.col("tot") * 2, "middle")
        .otherwise("tail")
    )
    return cum.join(F.broadcast(lang_stats), "lang").select(
        "doc_id", "lang", "score_ppm", bucket.alias("bucket")
    )


@register(
    "ccnet_lm_buckets",
    oracle=f"""
        WITH toksrc AS (
            SELECT doc_id, lang, n_chars, {_TOKS} AS toks FROM documents
        ),
        docs AS (SELECT * FROM toksrc WHERE len(toks) >= 2),
        bgr AS (
            SELECT doc_id,
                   struct_extract(p, 'w1') AS w1,
                   struct_extract(p, 'w2') AS w2
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(toks)),
                             i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS p
                  FROM docs)
        ),
        uni AS (
            SELECT w, count(*) AS u
            FROM (SELECT unnest(toks) AS w FROM toksrc) GROUP BY w
        ),
        bg AS (SELECT w1, w2, count(*) AS c2 FROM bgr GROUP BY w1, w2),
        ppm AS (
            SELECT bgr.doc_id, (1000000 * bg.c2) // uni.u AS ppm
            FROM bgr
            JOIN bg ON bgr.w1 = bg.w1 AND bgr.w2 = bg.w2
            JOIN uni ON bgr.w1 = uni.w
        ),
        per_doc AS (
            SELECT doc_id, CAST(sum(ppm) // count(*) AS BIGINT) AS score_ppm
            FROM ppm GROUP BY doc_id
        ),
        scored AS (
            SELECT d.doc_id, d.lang, d.n_chars, p.score_ppm
            FROM docs d JOIN per_doc p ON d.doc_id = p.doc_id
        ),
        cum AS (
            SELECT doc_id, lang, score_ppm,
                   coalesce(sum(n_chars) OVER (
                       PARTITION BY lang ORDER BY score_ppm DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS rel,
                   sum(n_chars) OVER (PARTITION BY lang) AS tot
            FROM scored
        )
        SELECT doc_id, lang, score_ppm,
               CASE WHEN rel * 3 < tot THEN 'head'
                    WHEN rel * 3 < tot * 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM cum
    """,
    ref="CCNet's per-language head/middle/tail quality bucketing (Wenzek et "
    "al. 2020 §4.4: order by LM score, cut into thirds by cumulative SIZE). "
    "The LM score is the corpus bigram model of doc_bigram_logprob made "
    "EXACT-INTEGER: per-bigram conditional probability in ppm — "
    "(1000000 * count(w1 w2)) DIV count(w1), BIGINT division — averaged per "
    "document by one more integer division, so the cross-engine ordering "
    "that decides bucket boundaries has no float in it anywhere (the "
    "product_type_profit lesson applied to ordering instead of values; a "
    "log-based score can flip adjacent docs on a last-ulp libm difference). "
    "Thirds are cut by cumulative n_chars with exclusive-prefix integer "
    "cross-multiplication (3 * prefix < total) — the first doc of a "
    "language is head by construction. Prefix sums via the two-phase "
    "global_running_total keyed (lang, score DESC, doc_id); per-language "
    "base/total broadcast back. Docs with < 2 tokens have no bigram score "
    "and are excluded (same contract as doc_bigram_logprob)",
)
def ccnet_lm_buckets(spark, sf_dir):
    # Persist the TOKEN ARRAYS, not the exploded bigram stream (round-10
    # rework of the round-9 persist): the three consumers (bigram counts,
    # the scoring join, AND the unigram model — which the r9 shape paid a
    # full second tokenize scan for) all explode from one cached 500k-row
    # array frame instead of materializing 26.6M exploded string rows.
    # Interleaved A/B at sf10: 14.0 -> 8.9 s min (artifacts/
    # ccnet_toks_ab_r10.json); the explode re-runs per consumer but is
    # map-side over cached arrays — cache write/read of the exploded rows
    # was the bigger cost.
    d, _ = owned_persist(
        T(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars", tokens(F.col("text")).alias("toks")
        )
    )
    scoreable = d.filter(F.size("toks") >= 2)
    n = F.size("toks")
    pairs = F.arrays_zip(
        F.slice("toks", 1, n - 1).alias("w1"), F.slice("toks", 2, n - 1).alias("w2")
    )
    ex = scoreable.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = (
        d.select(F.explode("toks").alias("w")).groupBy("w").agg(F.count("*").alias("u"))
    )
    bg = ex.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # compose the model ONCE at vocabulary size (distinct bigrams ⋈ unigrams),
    # then hit the corpus-scale bigram stream with a single join — joining the
    # stream against bg and uni separately would pay the big shuffle twice
    model = bg.join(uni, bg.w1 == uni.w).select(
        "w1", "w2", F.expr("(1000000 * c2) DIV u").alias("ppm")
    )
    ppm = ex.join(model, ["w1", "w2"]).select("doc_id", "ppm")
    per_doc = ppm.groupBy("doc_id").agg(F.expr("sum(ppm) DIV count(*)").alias("score_ppm"))
    docs = scoreable.select("doc_id", "lang", "n_chars").join(per_doc, "doc_id")
    return ccnet_bucket(docs)


# ---------------------------------------------------------------------------
# Gopher repetition — the LINE half (duplicate line / duplicate line chars)
# ---------------------------------------------------------------------------

_DUP_LINE_FRAC_PCT = 30       # Rae et al. 2021 Table A1: dup line frac > 0.30
_DUP_LINE_CHAR_FRAC_PCT = 20  # dup line char frac > 0.20

_DUCK_DUP_LINE_TEXT = (
    "text"
    " || chr(10) || 'subscribe to our newsletter today.'"
    " || CASE WHEN doc_id % 3 = 0 THEN chr(10) ||"
    " 'subscribe to our newsletter today.' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN repeat(chr(10) ||"
    " 'all rights reserved.', 3) ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||"
    " 'unique closing sentence for this page.' ELSE '' END"
)


def dup_line_page():
    """Deterministic page derivation for the line-duplication signals: the
    fixture corpus is single-line, so within-document repeats are injected
    from doc_id arithmetic (doc_id%3 pages carry the newsletter line twice,
    doc_id%4 pages the rights line three times) — the same
    oracle-reproducible-injection pattern as c4_page, but tuned so the
    LINE-level duplicate rules demonstrably fire at gate SF."""
    nl = F.lit("\n")
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        nl,
        F.lit("subscribe to our newsletter today."),
        F.when(
            did % 3 == 0,
            F.concat(nl, F.lit("subscribe to our newsletter today.")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                nl, F.lit("all rights reserved."),
                nl, F.lit("all rights reserved."),
                nl, F.lit("all rights reserved."),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(nl, F.lit("unique closing sentence for this page.")),
        ).otherwise(F.lit("")),
    )


def gopher_dup_line_metrics(pages):
    """The LINE half of Gopher's repetition-removal section (Rae et al. 2021
    A1.2; complement of gopher_repetition_signals' n-gram half): per
    document, the fraction of LINES that are occurrences of a duplicated
    line, and the fraction of CHARACTERS inside those lines — thresholds
    0.30 / 0.20 per the paper, applied by exact integer cross-multiplication
    (the Dolma/Gopher-reproduction convention: every occurrence of a
    non-unique line counts, including the first).

    Plan: explode lines, ONE groupBy on (doc, line) collapsing repeats
    map-side, ONE groupBy on doc for the verdict — no joins, both shuffles
    keyed and partial-aggregated; boilerplate hotness is per-document here,
    so there is no cross-document hot key at all."""
    lines = pages.select(
        "doc_id", F.explode(F.split("page", "\n")).alias("line")
    )
    per_line = lines.groupBy("doc_id", "line").agg(F.count("*").alias("c"))
    dup = F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
    agg = per_line.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_lines"),
        F.sum(dup).cast("long").alias("dup_lines"),
        F.sum(F.col("c") * F.length("line")).cast("long").alias("total_chars"),
        F.sum(dup * F.length("line")).cast("long").alias("dup_chars"),
    )
    repetitive = (
        F.col("dup_lines") * 100 > F.col("n_lines") * _DUP_LINE_FRAC_PCT
    ) | (
        F.col("dup_chars") * 100 > F.col("total_chars") * _DUP_LINE_CHAR_FRAC_PCT
    )
    return agg.select(
        "doc_id", "n_lines", "dup_lines", "total_chars", "dup_chars",
        repetitive.alias("repetitive"),
    )


@register(
    "gopher_dup_line_signals",
    oracle=f"""
        WITH pages AS (SELECT doc_id, {_DUCK_DUP_LINE_TEXT} AS page FROM documents),
        lines AS (
            SELECT doc_id, unnest(string_split(page, chr(10))) AS line FROM pages
        ),
        per_line AS (
            SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line
        ),
        agg AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                       AS dup_lines,
                   CAST(sum(c * len(line)) AS BIGINT) AS total_chars,
                   CAST(sum(CASE WHEN c > 1 THEN c * len(line) ELSE 0 END)
                        AS BIGINT) AS dup_chars
            FROM per_line GROUP BY doc_id
        )
        SELECT doc_id, n_lines, dup_lines, total_chars, dup_chars,
               (dup_lines * 100 > n_lines * {_DUP_LINE_FRAC_PCT}
                OR dup_chars * 100 > total_chars * {_DUP_LINE_CHAR_FRAC_PCT})
                   AS repetitive
        FROM agg
    """,
    ref="the LINE half of Gopher's repetition-removal section (Rae et al. "
    "2021 A1.2 — duplicate line fraction > 0.30, duplicate line CHARACTER "
    "fraction > 0.20), completing the published repetition suite next to "
    "gopher_repetition_signals' n-gram half. Every occurrence of a "
    "non-unique line counts (the Gopher-reproduction convention); both "
    "verdicts by exact integer cross-multiplication — no float anywhere. "
    "Within-document repeats are injected deterministically "
    "(dup_line_page), same pattern as c4_line_filter's page derivation. "
    "Two keyed, partial-aggregated shuffles ((doc, line) then doc), zero "
    "joins; line hotness is per-document by construction",
)
def gopher_dup_line_signals(spark, sf_dir):
    return gopher_dup_line_metrics(
        T(spark, sf_dir, "documents").select(
            "doc_id", dup_line_page().alias("page")
        )
    )


# ---------------------------------------------------------------------------
# End-to-end curation funnel
# ---------------------------------------------------------------------------

# Near-dup stage config: dedup_sim's production shape (3-gram Jaccard >= 0.4
# over the max_df=4 capped shingle universe — the components family's 100 TB
# configuration).
_FUNNEL_NGRAM = dict(n=3, threshold=0.4, max_df=4)


def _funnel_oracle() -> str:
    from ..functions.dedup import (
        duck_md5_long,
        duck_normalized_fp,
        duckdb_connected_components,
        duckdb_ngram_jaccard,
    )

    comp = duckdb_connected_components(
        duckdb_ngram_jaccard("s2", **_FUNNEL_NGRAM)
    )
    stage = (
        "SELECT '{name}' AS stage, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM {src}"
    )
    frac = f"{duck_md5_long(chr(39) + 'tsample:' + chr(39) + ' || doc_id::VARCHAR')} / 1.152921504606847e+18"
    return f"""
        WITH base AS MATERIALIZED (
            SELECT doc_id, text, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tok
            FROM documents
        ),
        rep AS ({_REPETITION_ORACLE}),
        s1 AS MATERIALIZED (
            SELECT base.* FROM base
            JOIN (SELECT doc_id FROM rep
                  WHERE n_tokens >= {_MIN_TOKENS} AND n_tokens <= {_MAX_TOKENS}
                    AND distinct_ratio >= {_MIN_DISTINCT}
                    AND top_bigram_frac <= {_MAX_TOPBG}) USING (doc_id)
        ),
        e AS (SELECT doc_id, {duck_normalized_fp('text')} AS fp FROM s1),
        keepers AS (SELECT min(doc_id) AS doc_id FROM e GROUP BY fp),
        s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN keepers USING (doc_id)),
        comp AS MATERIALIZED ({comp}),
        s3 AS MATERIALIZED (
            SELECT s2.* FROM s2
            LEFT JOIN comp ON comp.doc_id = s2.doc_id
            WHERE comp.component IS NULL OR comp.component = s2.doc_id
        ),
        rates AS (
            SELECT lang,
                   least(1.0, {_TEMP_C} * sqrt(n_total::DOUBLE / n_l)) AS rate
            FROM (SELECT lang, count(*) AS n_l,
                         (SELECT count(*) FROM s3) AS n_total
                  FROM s3 GROUP BY lang)
        ),
        s4 AS (
            SELECT s3.* FROM s3 JOIN rates USING (lang)
            WHERE {frac} < rate
        )
        {stage.format(name='00_total', src='base')}
        UNION ALL {stage.format(name='01_filter_rules', src='s1')}
        UNION ALL {stage.format(name='02_exact_dedup', src='s2')}
        UNION ALL {stage.format(name='03_near_dup', src='s3')}
        UNION ALL {stage.format(name='04_lang_sample', src='s4')}
    """


@register(
    "curation_funnel_report",
    oracle=_funnel_oracle(),
    ref="the END-TO-END curation funnel: every document flows through the "
    "audited rule chain (corpus_filter_pipeline's prioritized length/"
    "diversity/repetition rules — the Gopher-style chain that actually "
    "discriminates on this corpus; the published-threshold entries "
    "gopher_rules_filter / c4_line_filter stay standalone), exact dedup "
    "(normalized-text fingerprint, min-id winner), capped near-dup "
    "components (3-gram Jaccard >= 0.4, max_df=4 — the components family's "
    "production configuration) and language-temperature sampling IN "
    "SEQUENCE, and the report is the per-stage survivor count + token "
    "volume a pipeline operator signs off before training. Every stage "
    "reuses the audited entry's own metrics frame / oracle CTE "
    "(doc_repetition, exact_dedup_groups' rule, the capped pair graph, "
    "corpus_temperature_sample's rate rule recomputed over the survivors), "
    "so funnel stages CANNOT drift from the standalone entries. 100 TB "
    "posture: map-side rules, one fp shuffle, the capped pair graph, a "
    "|langs|-row broadcast rate table; the funnel adds only doc_id "
    "semi-joins between stages and five 1-row aggregates — no new shuffle "
    "shape",
)
def curation_funnel_report(spark, sf_dir):
    from ..functions.dedup import (
        connected_components,
        md5_long,
        ngram_jaccard_pairs,
        normalized_fp,
    )
    from ..session import ensure_parallelism

    d = T(spark, sf_dir, "documents")
    # Spread the scan before the CPU-heavy rule fold: a one-row-group fixture
    # file otherwise runs the whole bigram fold on 1-2 cores (measured 67 s
    # vs 4 s at sf1); a no-op on real multi-file input.
    spread = ensure_parallelism(d.select("doc_id", "text", "lang"))
    base = spread.select(
        "doc_id",
        "text",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    # The metrics frame is persisted BEFORE the threshold filter: a filter on
    # computed columns pushes through the round-robin exchange by alias
    # substitution, landing the whole bigram fold back on the unspread scan
    # tasks (measured: the fold re-ran at 2-task parallelism, 77 s at sf1;
    # with the persist barrier 4 s). The frame is 5 narrow columns, no text.
    metrics, _ = owned_persist(repetition_metrics(spread.select("doc_id", "text")))
    rules_keep = metrics.filter(
        (F.col("n_tokens") >= _MIN_TOKENS)
        & (F.col("n_tokens") <= _MAX_TOKENS)
        & (F.col("distinct_ratio") >= _MIN_DISTINCT)
        & (F.col("top_bigram_frac") <= _MAX_TOPBG)
    ).select("doc_id")
    # Each stage frame feeds (a) its own 1-row aggregate and (b) the next
    # stage's producer chain — unpersisted, the five stage aggregates
    # re-evaluate the whole lineage up to the components FIXPOINT once per
    # consumer (measured 244 s at sf1; persisted chain 11 s).
    s1, _ = owned_persist(base.join(rules_keep, "doc_id"))
    keep_ids = (
        s1.select("doc_id", normalized_fp("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s2, _ = owned_persist(s1.join(keep_ids, "doc_id"))
    pairs = ngram_jaccard_pairs(
        s2.select("doc_id", "text"), **_FUNNEL_NGRAM
    )
    comp = connected_components(pairs)
    s3, _ = owned_persist(
        s2.join(
            comp.select(F.col("doc_id").alias("c_doc"), "component"),
            F.col("doc_id") == F.col("c_doc"),
            "left",
        )
        .filter(
            F.col("component").isNull()
            | (F.col("component") == F.col("doc_id"))
        )
        .select("doc_id", "text", "lang", "n_tok")
    )
    lang_counts = s3.groupBy("lang").agg(F.count("*").alias("n_l"))
    total = s3.agg(F.count("*").alias("n_total"))
    rates = lang_counts.crossJoin(F.broadcast(total)).select(
        "lang",
        F.least(
            F.lit(1.0),
            _TEMP_C * F.sqrt(F.col("n_total").cast("double") / F.col("n_l")),
        ).alias("rate"),
    )
    frac = md5_long(
        F.concat(F.lit("tsample:"), F.col("doc_id").cast("string"))
    ) / float(2**60)
    s4 = s3.join(F.broadcast(rates), "lang").filter(frac < F.col("rate"))

    def stage(name, df):
        return df.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("n_tokens"),
        ).select(F.lit(name).alias("stage"), "n_docs", "n_tokens")

    return (
        stage("00_total", base)
        .unionAll(stage("01_filter_rules", s1))
        .unionAll(stage("02_exact_dedup", s2))
        .unionAll(stage("03_near_dup", s3))
        .unionAll(stage("04_lang_sample", s4))
    )


# ---------------------------------------------------------------------------
# Per-source quality percentile filter + token-budget mixture allocation
# ---------------------------------------------------------------------------

# keep the top 30% of each source by classifier score (integer
# cross-multiplication: kept iff 10*rank <= 3*n_source — no float percentile
# ever crosses the engine boundary)
_PCT_KEEP_NUM, _PCT_KEEP_DEN = 3, 10


def _quality_oracle() -> str:
    from .registry import _REGISTRY

    return _REGISTRY["quality_classifier_score"].oracle


@register(
    "quality_percentile_filter",
    oracle=f"""
        WITH q AS ({_quality_oracle()}),
        s AS (
            SELECT q.doc_id, d.source, q.z_micro,
                   CAST(row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY q.z_micro DESC, q.doc_id
                   ) AS BIGINT) AS rnk,
                   CAST(count(*) OVER (PARTITION BY d.source) AS BIGINT)
                       AS n_src
            FROM q JOIN documents d USING (doc_id)
        )
        SELECT doc_id, source, z_micro, rnk,
               ({_PCT_KEEP_DEN} * rnk <= {_PCT_KEEP_NUM} * n_src) AS kept
        FROM s
    """,
    ref="per-source quality percentile filter (the FineWeb-Edu-style 'keep "
    "the top X% of every domain by classifier score' stage — a global "
    "threshold lets one high-scoring domain crowd out every other): rank "
    "within source by the audited quality_classifier_score logit (shared "
    "frame — the score cannot drift from the standalone entry), keep iff "
    f"{_PCT_KEEP_DEN}*rank <= {_PCT_KEEP_NUM}*n_source — exact integer "
    "cross-multiplication, ties broken by doc_id on both engines. 100 TB "
    "posture: one shuffle keyed by source; per-source rank is a window over "
    "a bounded-cardinality key — at extreme domain skew use "
    "domain_quota_filter's salted two-level selection (same module), which "
    "computes the same top-N-per-key without a single hot window partition",
)
def quality_percentile_filter(spark, sf_dir):
    from pyspark.sql import Window

    q = quality_classifier_score(spark, sf_dir).select("doc_id", "z_micro")
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    s = q.join(d, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("z_micro").desc(), F.col("doc_id")
    )
    wn = Window.partitionBy("source")
    s = s.select(
        "doc_id",
        "source",
        "z_micro",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count("*").over(wn).cast("long").alias("n_src"),
    )
    return s.select(
        "doc_id",
        "source",
        "z_micro",
        "rnk",
        (_PCT_KEEP_DEN * F.col("rnk") <= _PCT_KEEP_NUM * F.col("n_src")).alias(
            "kept"
        ),
    )


# token budget for the mixture allocation (must be < total corpus tokens so
# the proportional share never exceeds availability)
_MIX_BUDGET = 10_000


@register(
    "mixture_token_budget",
    oracle=f"""
        WITH avail AS (
            SELECT source, CAST(sum(len({{toks}})) AS BIGINT) AS avail_tokens
            FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(avail_tokens) AS total FROM avail),
        shares AS (
            SELECT source, avail_tokens,
                   CAST({_MIX_BUDGET} * avail_tokens // total AS BIGINT)
                       AS base_alloc,
                   CAST({_MIX_BUDGET} * avail_tokens % total AS BIGINT)
                       AS remainder
            FROM avail CROSS JOIN tot
        ),
        ranked AS (
            SELECT *,
                   CAST(row_number() OVER (
                       ORDER BY remainder DESC, source
                   ) AS BIGINT) AS rrank,
                   (SELECT {_MIX_BUDGET} - sum(base_alloc) FROM shares)
                       AS leftover
            FROM shares
        )
        SELECT source, avail_tokens,
               CAST(base_alloc + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_tokens
        FROM ranked
    """.replace("{toks}", _TOKS),
    ref="token-budget mixture allocation (the 'build a B-token training mix "
    "from these domains' step): each source receives floor(B * avail / "
    "total) tokens, and the leftover B - sum(floors) units go one each to "
    "the largest fractional remainders (largest-remainder / Hamilton "
    "apportionment — deterministic ties by source name). Everything is "
    "exact 64-bit integer arithmetic: sum(alloc) == B EXACTLY by "
    "construction (pinned in tests), no float share ever crosses the "
    "engine boundary. 100 TB posture: per-source token counts are one "
    "map-side-combined aggregation; the apportionment itself runs on the "
    "|sources|-row table — driver-scale, broadcast back if a downstream "
    "sampler needs the rates",
)
def mixture_token_budget(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    avail = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("avail_tokens")
    )
    tot = avail.agg(F.sum("avail_tokens").alias("total"))
    # `div` is Spark's integral division on longs (the `/` operator returns
    # double) — base and remainder stay exact 64-bit integers end to end.
    shares = avail.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail_tokens",
        F.expr(f"({_MIX_BUDGET} * avail_tokens) div total")
        .cast("long")
        .alias("base_alloc"),
        F.expr(f"({_MIX_BUDGET} * avail_tokens) % total")
        .cast("long")
        .alias("remainder"),
    )
    leftover = shares.agg(
        (F.lit(_MIX_BUDGET) - F.sum("base_alloc")).cast("long").alias("leftover")
    )
    w = Window.orderBy(F.col("remainder").desc(), F.col("source"))
    ranked = shares.withColumn(
        "rrank", F.row_number().over(w).cast("long")
    ).crossJoin(F.broadcast(leftover))
    return ranked.select(
        "source",
        "avail_tokens",
        (
            F.col("base_alloc")
            + F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )


# ---------------------------------------------------------------------------
# k-anonymity suppression for aggregate release
# ---------------------------------------------------------------------------

_KANON_K = 10


_KANON_SENTINEL = "__other__"


@register(
    "k_anonymity_release",
    oracle=f"""
        WITH g AS (
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM documents GROUP BY lang, source
        ),
        sup AS (
            SELECT CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM g WHERE n_docs < {_KANON_K}
        )
        SELECT lang, source, n_docs, n_chars
        FROM g WHERE n_docs >= {_KANON_K}
        UNION ALL
        SELECT '{_KANON_SENTINEL}', '{_KANON_SENTINEL}', n_docs, n_chars
        FROM sup WHERE n_cells >= 2 AND n_docs >= {_KANON_K}
    """,
    ref="k-anonymity suppression for aggregate release (the governance rule "
    "before publishing per-cohort corpus statistics): any (lang, source) "
    f"cell with fewer than k={_KANON_K} documents is withheld; the withheld "
    "cells are released only as a single coalesced '__other__' remainder, "
    "and ONLY when that remainder is itself non-identifying — at least 2 "
    "suppressed cells merged AND remainder n_docs >= k. With a single "
    "suppressed cell (or a sub-k remainder) the remainder row is withheld "
    "entirely, because released totals that exactly equal corpus totals "
    "would otherwise let an attacker recover the one suppressed cell by "
    "subtraction (the subtraction attack). Consequence, pinned in tests: "
    "released totals equal corpus totals IFF the remainder row is present; "
    "otherwise the release undercounts by the withheld remainder — the "
    "privacy-correct direction. The sentinel cannot silently collide with "
    "a real value: the Spark release guards every released NON-remainder "
    "cell with raise_error if its lang/source equals the sentinel. "
    "100 TB posture: two hash aggregations with map-side partials (cell "
    "aggregate, then a 1-row suppressed-cell summary broadcast into the "
    "remainder gate) — the released table is |cells|-sized, never "
    "corpus-sized",
)
def k_anonymity_release(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    # collision guard: a REAL cohort value equal to the sentinel would merge
    # with the suppression bucket and misattribute counts — fail loudly
    # instead (kept inside the released columns so Catalyst cannot prune it).
    def guarded(col: str):
        return F.when(
            F.col(col) == _KANON_SENTINEL,
            F.raise_error(
                f"k_anonymity_release: real {col} value collides with "
                f"sentinel {_KANON_SENTINEL!r}"
            ),
        ).otherwise(F.col(col)).alias(col)

    kept = g.filter(F.col("n_docs") >= _KANON_K).select(
        guarded("lang"), guarded("source"), "n_docs", "n_chars"
    )
    sup = (
        g.filter(F.col("n_docs") < _KANON_K)
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .filter((F.col("n_cells") >= 2) & (F.col("n_docs") >= _KANON_K))
        .select(
            F.lit(_KANON_SENTINEL).alias("lang"),
            F.lit(_KANON_SENTINEL).alias("source"),
            "n_docs",
            "n_chars",
        )
    )
    return kept.unionAll(sup)


# ---------------------------------------------------------------------------
# Differentially-private count release (geometric mechanism)
# ---------------------------------------------------------------------------

# Truncated two-sided geometric ("discrete Laplace") noise: alpha = 1/2
# (epsilon = ln 2 per released count at sensitivity 1), support [-8, 8].
# Weights alpha^|k| scale to EXACT integers (2^(8-|k|)), so the inverse-CDF
# is a pure integer threshold table — no float ever decides a noise draw,
# and both engines walk the identical table.
_DP_TRUNC = 8


def _dp_noise_table():
    """[(k, cumulative_weight)] over k in [-8, 8] plus the total weight —
    the single source both the Spark expression and the SQL CASE are
    generated from (the _z_terms rule: one loop, engines cannot drift)."""
    ks = list(range(-_DP_TRUNC, _DP_TRUNC + 1))
    cum, acc = [], 0
    for k in ks:
        acc += 2 ** (_DP_TRUNC - abs(k))
        cum.append((k, acc))
    return cum, acc


def _dp_noise_exprs():
    """(spark_noise_builder(h_col), duck_case_sql(h_sql)) mapping a uniform
    integer h in [0, total) to the truncated geometric noise draw."""
    cum, total = _dp_noise_table()

    def spark(h):
        expr = None
        for k, c in cum:
            cond = h < F.lit(c)
            expr = F.when(cond, F.lit(k)) if expr is None else expr.when(cond, F.lit(k))
        return expr.cast("long")

    parts = " ".join(f"WHEN {{h}} < {c} THEN {k}" for k, c in cum)
    duck = f"(CASE {parts} END)"
    return spark, duck, total


@register(
    "dp_count_release",
    oracle=None,  # set below (needs the generated CASE); see _dp_finalize
    ref="differentially-private per-(lang, source) document-count release "
    "via the geometric mechanism (Ghosh, Roughgarden & Sundararajan 2009 — "
    "the discrete counterpart of Laplace noise, universally utility-optimal "
    "for counts): each cell's exact count gets an independent two-sided "
    "geometric noise draw with alpha = 1/2 (epsilon = ln 2 at the count "
    "query's sensitivity of 1), truncated to [-8, +8] (truncation "
    "probability < 0.4% per tail) and clipped at zero after addition. The "
    "draw is the inverse-CDF walk of an EXACT integer weight table "
    "(weights 2^(8-|k|), total 766) over h = md5(cell-seed) mod 766 — "
    "deterministic seeding is the cross-engine-reproducibility device this "
    "repo uses for every synthetic random draw (pi_estimate, gen_teragen); "
    "a production release swaps h for calibrated SECURE randomness, "
    "changing nothing else. Counts only: a count query has sensitivity "
    "exactly 1, so the epsilon claim is textbook-correct — noised SUMS "
    "(n_chars etc.) would need sensitivity-scaled noise and are "
    "deliberately not released here. Complements k_anonymity_release: "
    "suppression hides small cells, DP noise protects every cell's exact "
    "value. 100 TB posture: one hash aggregation with map-side partials; "
    "the noise is a map-side expression over the |cells|-row result",
)
def dp_count_release(spark, sf_dir):
    from ..functions.dedup import md5_int32

    spark_noise, _duck_case, total = _dp_noise_exprs()
    d = T(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    seed = F.concat(
        F.col("lang"), F.lit(":"), F.col("source"), F.lit(":dp")
    )
    h = md5_int32(seed) % total
    return g.select(
        "lang",
        "source",
        F.greatest(F.col("n_docs") + spark_noise(h), F.lit(0))
        .cast("long")
        .alias("n_docs_dp"),
    )


def _dp_oracle() -> str:
    from ..functions.dedup import duck_md5_int32

    _spark_noise, duck_case, total = _dp_noise_exprs()
    seed_sql = "lang || ':' || source || ':dp'"
    h = f"({duck_md5_int32(seed_sql)} % {total})"
    case = duck_case.format(h=h)
    return f"""
        SELECT lang, source,
               CAST(greatest(count(*) + {case}, 0) AS BIGINT) AS n_docs_dp
        FROM documents GROUP BY lang, source
    """


# register() stores the oracle at decoration time; the SQL needs the
# generated CASE, so patch the frozen entry in place via object.__setattr__
# (InventoryEntry is a frozen dataclass).
def _dp_finalize():
    from .registry import _REGISTRY

    e = _REGISTRY["dp_count_release"]
    object.__setattr__(e, "oracle", _dp_oracle())


_dp_finalize()
