"""Text inventory queries — wordcount family + LLM-pipeline text analysis.

All run over the driver's `documents` table; oracle fragments come from the
same module as the Spark builders so tokenization can't drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.rounding import duck_fround
from ..functions.text_metrics import (
    BPE_ISH,
    LANG_MARKERS,
    STOPWORDS,
    duck_tokens,
    fingerprint,
    grep_count,
    lang_id,
    quality_score,
    token_count,
    word_counts,
    word_length_stats,
)
from ..session import owned_persist
from ..session import table as T
from .registry import register

_TOKS = duck_tokens("text")


@register(
    "word_count",
    oracle=f"""
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest({_TOKS}) AS word FROM documents)
        GROUP BY word
    """,
    ref="MR-EX/WordCount.java + TokenCounterMapper — explode(split)+groupBy.count",
)
def word_count(spark, sf_dir):
    return word_counts(T(spark, sf_dir, "documents"))


@register(
    "word_stats",
    oracle=f"""
        SELECT count(*) AS n_words,
               {duck_fround('avg(length(word))', 4)} AS mean_len,
               {duck_fround('median(length(word))', 4)} AS median_len,
               round(stddev_pop(length(word)), 4) AS stddev_len,
               min(length(word)) AS min_len,
               max(length(word)) AS max_len
        FROM (SELECT unnest({_TOKS}) AS word FROM documents)
    """,
    ref="WordMean.java:54-81, WordMedian.java:154-158 (even-count midpoint), WordStandardDeviation.java:137-169",
)
def word_stats(spark, sf_dir):
    return word_length_stats(T(spark, sf_dir, "documents"))


@register(
    "grep_regex_count",
    oracle="""
        SELECT match, count(*) AS cnt
        FROM (SELECT unnest(regexp_extract_all(lower(text), '(s[a-z]+)', 1)) AS match
              FROM documents)
        GROUP BY match
        ORDER BY cnt DESC, match
    """,
    ref="MR-EX/Grep.java:55-70 + RegexMapper.java:36-49 — regex-count then sort desc",
)
def grep_regex_count(spark, sf_dir):
    return grep_count(T(spark, sf_dir, "documents"), r"(s[a-z]+)", 1)


@register(
    "doc_token_count",
    oracle=f"""
        SELECT doc_id,
               len({_TOKS}) AS n_ws_tokens,
               len(regexp_extract_all(lower(text), '{BPE_ISH}', 0)) AS n_bpe_tokens
        FROM documents
    """,
    ref="token counting (whitespace + BPE-ish regex) — LLM-pipeline op",
)
def doc_token_count(spark, sf_dir):
    return token_count(T(spark, sf_dir, "documents"))


_SW = ", ".join(f"'{w}'" for w in STOPWORDS)


_PUNCT = "(length(lt) - length(regexp_replace(lt, '[^a-z0-9\\s]', '', 'g')))"
_PR = f"{_PUNCT} / greatest(non_ws, 1)"
_SR = f"len(list_filter(toks, x -> x IN ({_SW}))) / greatest(len(toks), 1)"
_SCORE = f"least(len(toks) / 100.0, 1.0) * (1 - {_PR}) * (0.5 + {_SR})"


@register(
    "doc_quality",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lower(text) AS lt, {_TOKS.replace('text', 'text')} AS toks,
                   length(regexp_replace(lower(text), '\\s+', '', 'g')) AS non_ws
            FROM documents
        )
        SELECT doc_id,
               length(lt) AS n_chars,
               len(toks) AS n_tokens,
               {duck_fround(_PR, 4)} AS punct_ratio,
               {duck_fround(_SR, 4)} AS stopword_ratio,
               {duck_fround(_SCORE, 4)} AS quality
        FROM t
    """,
    ref="quality scoring (length/punct/stopword ratios) — LLM-pipeline op",
)
def doc_quality(spark, sf_dir):
    return quality_score(T(spark, sf_dir, "documents"))


_LANG_SCORES = ",\n               ".join(
    f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS BIGINT) AS score_{k}"
    for k, m in LANG_MARKERS.items()
)


@register(
    "doc_lang_id",
    oracle=f"""
        WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
        s AS (
            SELECT doc_id,
               {_LANG_SCORES}
            FROM padded
        )
        SELECT doc_id, score_en, score_fr, score_de, score_es,
               CASE WHEN score_en >= score_fr AND score_en >= score_de AND score_en >= score_es THEN 'en'
                    WHEN score_fr >= score_de AND score_fr >= score_es THEN 'fr'
                    WHEN score_de >= score_es THEN 'de'
                    ELSE 'es' END AS lang_pred
        FROM s
    """,
    ref="language-ID n-gram-marker heuristic — LLM-pipeline op",
)
def doc_lang_id(spark, sf_dir):
    return lang_id(T(spark, sf_dir, "documents"))


_LANG_PRED = """
        CASE WHEN score_en >= score_fr AND score_en >= score_de AND score_en >= score_es THEN 'en'
             WHEN score_fr >= score_de AND score_fr >= score_es THEN 'fr'
             WHEN score_de >= score_es THEN 'de'
             ELSE 'es' END
"""


@register(
    "lang_id_confusion",
    oracle=f"""
        WITH padded AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
        s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM padded)
        SELECT lang AS gold, {_LANG_PRED} AS pred, count(*) AS n
        FROM s GROUP BY 1, 2
    """,
    ref="language-ID evaluation: confusion matrix of the heuristic against the gold lang "
    "column — the eval op a training-data pipeline runs on every classifier stage",
)
def lang_id_confusion(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    pred = lang_id(d).select("doc_id", "lang_pred")
    return (
        d.select("doc_id", F.col("lang").alias("gold"))
        .join(pred, "doc_id")
        .groupBy("gold", F.col("lang_pred").alias("pred"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "doc_top_bigrams",
    oracle=f"""
        SELECT bigram, count(*) AS cnt FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
            FROM (SELECT {_TOKS} AS toks FROM documents)
            WHERE len(toks) >= 2
        )
        GROUP BY bigram
        HAVING count(*) >= 10
    """,
    ref="word-bigram frequency (n-gram table over the corpus; the shingle machinery at n=2 "
    "without the per-doc distinct) — LLM-pipeline text analysis",
)
def doc_top_bigrams(spark, sf_dir):
    from ..functions.text_metrics import tokens

    d = T(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    return (
        d.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 10)
    )


@register(
    "doc_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    """,
    ref="document fingerprinting (normalized md5) — LLM-pipeline op",
)
def doc_fingerprint(spark, sf_dir):
    return fingerprint(T(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# rolling-hash (winnowing) fingerprints + TF-IDF — LLM-pipeline text ops
# --------------------------------------------------------------------------

_WINNOW_K = 8  # char-gram width
_WINNOW_W = 8  # winnowing window (guarantee threshold t = K + W - 1 = 15)


# Shared oracle body: DISTINCT (doc_id, fp) winnow fingerprints.
_WINNOW_ORACLE = f"""
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(hs) - {_WINNOW_W - 2}),
                       j -> list_aggregate(list_slice(hs, j, j + {_WINNOW_W - 1}), 'min'))) AS fp
            FROM (
                SELECT doc_id,
                       list_transform(range(1, length(nt) - {_WINNOW_K - 2}),
                           i -> (('0x' || substr(md5(substr(nt, i, {_WINNOW_K})), 1, 15))::BIGINT)) AS hs
                FROM (
                    SELECT doc_id,
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
                    FROM documents
                ) WHERE length(nt) >= {_WINNOW_K + _WINNOW_W - 1}
            )
        )
"""


@register(
    "doc_winnow_fingerprints",
    oracle=_WINNOW_ORACLE,
    ref="document fingerprinting via winnowing (rolling k-gram hash, per-window min — "
    "Schleimer/Wilkerson/Aiken's scheme): any shared substring of length >= K+W-1 "
    "guarantees a shared fingerprint. All array ops are map-side (no shuffle before "
    "the final distinct); hashes are md5-derived for cross-engine reproducibility",
)
def doc_winnow_fingerprints(spark, sf_dir):
    return _winnow_frame(spark, sf_dir)


def _winnow_base(spark, sf_dir):
    """(doc_id, nt) with Spark-side normalization — shared by both winnow
    implementations so the normalization semantics cannot drift."""
    from ..session import ensure_parallelism

    d = ensure_parallelism(T(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select("doc_id", norm.alias("nt")).filter(
        F.length("nt") >= _WINNOW_K + _WINNOW_W - 1
    )


def _winnow_frame(spark, sf_dir):
    """DISTINCT (doc_id, fp) winnow fingerprints via an Arrow-batched kernel.

    Winnowing is integer-exact (md5 → int, sliding min) so the Python
    hashlib/numpy kernel is bit-identical to the expression formulation by
    construction (asserted in tests vs :func:`_winnow_frame_expr`); the
    expression version pays ~|doc| interpreted md5+conv calls per document.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions.md5np import md5_60, md5_60bit_fixed_len

    schema = StructType(
        [StructField("doc_id", LongType(), False), StructField("fp", LongType(), False)]
    )
    K, W = _WINNOW_K, _WINNOW_W
    swv = np.lib.stride_tricks.sliding_window_view

    def kernel(batches):
        for pdf in batches:
            # numpy output assembly (np.repeat / np.concatenate): the first
            # kernel built ~80 python-list appends per doc — measured as a
            # visible slice of the wall once the md5 itself was vectorized
            fp_chunks: list[np.ndarray] = []
            id_vals: list[int] = []
            id_counts: list[int] = []
            # ASCII batch fast path (r11): every K-char gram is K bytes, so
            # the per-position md5 loop (the measured wall: ~1 md5 per CHAR
            # of the corpus) collapses to ONE vectorized md5 over all
            # windows of the batch's concatenated bytes; windows crossing
            # doc boundaries (~K/|doc| waste) are simply never sliced out.
            ascii_pos: list[int] = []
            ascii_bytes: list[bytes] = []
            fallback: list[int] = []
            texts = pdf["nt"]
            dids = pdf["doc_id"]
            for pos in range(len(pdf)):
                nt = texts.iloc[pos]
                b = nt.encode("utf-8")
                if len(b) == len(nt):
                    ascii_pos.append(pos)
                    ascii_bytes.append(b)
                else:
                    fallback.append(pos)
            if ascii_pos:
                arr = np.frombuffer(b"".join(ascii_bytes), dtype=np.uint8)
                hs_all = md5_60bit_fixed_len(swv(arr, K))
                off = 0
                for j, pos in enumerate(ascii_pos):
                    n = len(ascii_bytes[j])
                    hs = hs_all[off : off + n - K + 1]
                    fps = np.unique(swv(hs, W).min(axis=1))
                    fp_chunks.append(fps)
                    id_vals.append(dids.iloc[pos])
                    id_counts.append(len(fps))
                    off += n
            for pos in fallback:
                # md5 operates on bytes; gram boundaries are CHARACTER
                # offsets (Spark substr semantics) — slice the str, not bytes
                nt = texts.iloc[pos]
                n = len(nt)
                hs = np.fromiter(
                    (md5_60(nt[i : i + K]) for i in range(n - K + 1)),
                    dtype=np.int64,
                    count=n - K + 1,
                )
                fps = np.unique(swv(hs, W).min(axis=1))
                fp_chunks.append(fps)
                id_vals.append(dids.iloc[pos])
                id_counts.append(len(fps))
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(
                        np.asarray(id_vals, dtype=np.int64),
                        np.asarray(id_counts, dtype=np.int64),
                    ),
                    "fp": (
                        np.concatenate(fp_chunks)
                        if fp_chunks
                        else np.empty(0, dtype=np.int64)
                    ),
                }
            )

    return _winnow_base(spark, sf_dir).mapInPandas(kernel, schema=schema)


def _winnow_frame_expr(spark, sf_dir):
    """Expression-only formulation (the correctness anchor for the kernel)."""
    from ..functions.dedup import md5_long

    base = _winnow_base(spark, sf_dir)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("nt") - (_WINNOW_K - 1)),
        lambda i: md5_long(F.col("nt").substr(i, F.lit(_WINNOW_K))),
    )
    hframe = base.select("doc_id", grams.alias("hs"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - (_WINNOW_W - 1)),
            lambda j: F.array_min(F.slice("hs", j, _WINNOW_W)),
        )
    )
    return hframe.select("doc_id", F.explode(fps).alias("fp")).distinct()


_WINNOW_SHARED_MIN = 5
_WINNOW_MAX_DF = 50  # drop fingerprints occurring in more docs (boilerplate)


@register(
    "doc_winnow_near_dup",
    oracle=f"""
        WITH fps AS ({_WINNOW_ORACLE}),
        rare AS (
            SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_WINNOW_MAX_DF}
        ),
        fpr AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp))
        SELECT a_id, b_id, shared FROM (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
            FROM fpr a JOIN fpr b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) WHERE shared >= {_WINNOW_SHARED_MIN}
    """,
    ref="near-dup by shared winnow fingerprints (substring/plagiarism flavor: robust to "
    "token reordering that defeats shingle Jaccard). Ubiquitous fingerprints (doc "
    "frequency > cap) are dropped first — common substrings are boilerplate, not "
    "duplication, and ONE hot fingerprint bucket otherwise yields quadratic garbage "
    "pairs (measured 3.7M pairs → 86 without the cap at sf0.1). Bucket groupBy + "
    "in-row pair expansion; pair count across buckets IS the shared-fp count",
)
def doc_winnow_near_dup(spark, sf_dir):
    from ..functions.dedup import expand_bucket_pairs

    fps = _winnow_frame(spark, sf_dir)
    buckets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _WINNOW_MAX_DF))
    )
    return (
        expand_bucket_pairs(buckets)
        .groupBy(F.col("id_a").alias("a_id"), F.col("id_b").alias("b_id"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= _WINNOW_SHARED_MIN)
    )


@register(
    "doc_tfidf_top_terms",
    oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
        tf AS (SELECT doc_id, dl, term, count(*) AS tf_cnt
               FROM ex GROUP BY doc_id, dl, term),
        dfc AS (SELECT term, count(*) AS df_cnt FROM tf GROUP BY term),
        nd AS (SELECT count(*) AS n_docs FROM d),
        scored AS (
            SELECT doc_id, term,
                   {duck_fround('(tf_cnt / dl) * ln(n_docs / df_cnt)', 6)} AS tfidf
            FROM tf JOIN dfc USING (term) CROSS JOIN nd
        )
        SELECT doc_id, term, tfidf, rank FROM (
            SELECT doc_id, term, tfidf,
                   CAST(row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    ref="TF-IDF top terms per document — the keyword-extraction op of a training-data "
    "pipeline. tf = term count / doc length; idf = ln(N / doc-frequency); the document "
    "count joins in as a broadcast 1-row frame (no driver-side collect); ranking uses "
    "the ROUNDED score + term tie-break so ranks agree across engines",
)
def doc_tfidf_top_terms(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.rounding import fround
    from ..functions.text_metrics import tokens

    d = T(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    ex = d.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    tf = ex.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf_cnt"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("df_cnt"))
    nd = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            fround(
                (F.col("tf_cnt") / F.col("dl"))
                * F.log(F.col("n_docs") / F.col("df_cnt")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.select(
            "doc_id", "term", "tfidf",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 3)
    )


@register(
    "source_quality_report",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   {__import__('hadoop_3_0_0_beta1_gaia_spark.functions.dedup',
                               fromlist=['duck_normalized_fp']).duck_normalized_fp('text')} AS fp,
                   lower(text) AS lt, {_TOKS} AS toks,
                   length(regexp_replace(lower(text), '\\s+', '', 'g')) AS non_ws
            FROM documents
        ),
        q AS (
            SELECT doc_id, source, fp, len(toks) AS n_tokens,
                   CAST(floor({duck_fround(_SCORE, 4)} * 10000 + 0.5) AS BIGINT) AS qi
            FROM t
        )
        SELECT source, n_docs, n_unique, total_tokens,
               {duck_fround('qsum / n_docs / 10000.0', 6)} AS mean_quality,
               {duck_fround('1.0 - n_unique / n_docs', 4)} AS dup_rate
        FROM (
            SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(qi) AS BIGINT) AS qsum
            FROM q GROUP BY source
        )
    """,
    ref="per-source corpus health report — the URL/domain-level filtering signal "
    "of a training pipeline (keep/downweight whole sources by dup rate and mean "
    "quality). Builds on the shared quality score and the exact-dedup "
    "fingerprint; the quality mean folds over EXACT integer basis points "
    "(quality is 4dp-rounded, so x1e4 recovers integers — float-avg order "
    "nondeterminism cannot flip a boundary, the kmeans lesson applied); one "
    "hash agg keyed on source (low cardinality -> AQE handles the skew)",
)
def source_quality_report(spark, sf_dir):
    from ..functions.dedup import normalized_fp
    from ..functions.rounding import fround

    docs = T(spark, sf_dir, "documents")
    q = quality_score(docs).select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("quality") * 10000 + F.lit(0.5)).cast("long").alias("qi"),
    )
    keyed = docs.select("doc_id", "source", normalized_fp().alias("fp")).join(
        q, "doc_id"
    )
    agg = keyed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("fp").alias("n_unique"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("qi").alias("qsum"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_unique",
        "total_tokens",
        fround(F.col("qsum") / F.col("n_docs") / 10000.0, 6).alias("mean_quality"),
        fround(1.0 - F.col("n_unique") / F.col("n_docs"), 4).alias("dup_rate"),
    )


_BPE_TOPK = 20


@register(
    "bpe_top_merges",
    oracle=f"""
        WITH wc AS (
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)
            GROUP BY word
        ),
        pairs AS (
            SELECT substring(word, i, 1) AS left_sym,
                   substring(word, i + 1, 1) AS right_sym,
                   cnt
            FROM wc, unnest(generate_series(1, length(word) - 1)) AS t(i)
            WHERE length(word) >= 2
        ),
        merged AS (
            SELECT left_sym, right_sym, CAST(sum(cnt) AS BIGINT) AS freq
            FROM pairs GROUP BY left_sym, right_sym
        )
        SELECT left_sym, right_sym, freq, rank FROM (
            SELECT left_sym, right_sym, freq,
                   CAST(row_number() OVER (
                       ORDER BY freq DESC, left_sym, right_sym
                   ) AS BIGINT) AS rank
            FROM merged
        ) WHERE rank <= {_BPE_TOPK}
    """,
    ref="BPE vocabulary induction, merge step 1: adjacent-symbol pair counts "
    "weighted by word frequency (Sennrich et al. 2016) — the tokenizer-training "
    "op of an LLM pipeline. Pair stream folds from the VOCABULARY (distinct "
    "words x in-word positions), not the token stream: the word-count agg "
    "shrinks the explode input from corpus tokens to |vocab| rows first. "
    "Iterating = re-running with the merged symbol table (same plan shape per "
    "round, the kmeans-loop pattern). Top-k is TakeOrdered over the "
    "symbol-pair table",
)
def bpe_top_merges(spark, sf_dir):
    from pyspark.sql import Window

    wc = word_counts(T(spark, sf_dir, "documents")).withColumnRenamed("cnt", "cnt")
    pairs = (
        wc.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> struct(substring(word, i, 1) AS l,"
                    "             substring(word, i + 1, 1) AS r))"
                )
            ).alias("p"),
            "cnt",
        )
        .select(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym"), "cnt"
        )
    )
    merged = pairs.groupBy("left_sym", "right_sym").agg(
        F.sum("cnt").alias("freq")
    )
    topk = merged.orderBy(
        F.col("freq").desc(), F.col("left_sym"), F.col("right_sym")
    ).limit(_BPE_TOPK)
    w = Window.orderBy(F.col("freq").desc(), F.col("left_sym"), F.col("right_sym"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


_SAMPLE_PER_GROUP = 5


@register(
    "sample_docs_per_lang",
    oracle=f"""
        SELECT lang, doc_id, pick FROM (
            SELECT lang, doc_id,
                   CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(doc_id::VARCHAR || ':samp'), doc_id
                   ) AS BIGINT) AS pick
            FROM documents
        ) WHERE pick <= {_SAMPLE_PER_GROUP}
    """,
    ref="deterministic per-group sampling (the inspection/eval-set draw): rank "
    "by an md5 of the id within each language and keep the first N — a seeded "
    "'random' sample that is REPRODUCIBLE across engines, runs, and corpus "
    "growth-order (rand() is none of those). The window partitions by group "
    "(bounded by group size; for a mega-group pre-filter on the hash prefix "
    "first). Same md5-ordering idiom as the samplers and the corpus shuffle",
)
def sample_docs_per_lang(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":samp"))), "doc_id"
    )
    return (
        T(spark, sf_dir, "documents")
        .select("lang", "doc_id")
        .withColumn("pick", F.row_number().over(w).cast("long"))
        .filter(F.col("pick") <= _SAMPLE_PER_GROUP)
    )


# ---------------------------------------------------------------------------
# BPE merge-training loop (3 unrolled rounds)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3

# One BPE merge pass as a left fold over a word's space-delimited symbol
# string: append each symbol, except when the accumulator's LAST symbol
# equals l and the incoming symbol equals r — then replace the last symbol
# with the merged token. This is exactly greedy left-to-right non-overlapping
# pair replacement (a fresh merged token can never re-merge in the same pass:
# it differs from l by construction). Same fold, two dialects.
_DUCK_FOLD = """
    list_reduce(
        list_prepend('', string_split({rep}, ' ')),
        (acc, x) -> CASE
            WHEN acc <> '' AND regexp_extract(acc, '([^ ]+)$', 1) = {l}
                 AND x = {r}
            THEN regexp_replace(acc, '([^ ]+)$', '') || {l} || {r}
            ELSE CASE WHEN acc = '' THEN x ELSE acc || ' ' || x END
        END)
"""


def _duck_round(n: int) -> str:
    """CTEs for round n: top pair of rep{n-1}, then rep{n} via the fold."""
    prev, cur = f"rep{n-1}", f"rep{n}"
    fold = _DUCK_FOLD.format(rep=f"v.{prev}", l=f"p{n}.l", r=f"p{n}.r")
    return f"""
        p{n} AS (
            SELECT l, r, freq FROM (
                SELECT syms[i] AS l, syms[i + 1] AS r,
                       CAST(sum(cnt) AS BIGINT) AS freq
                FROM (SELECT string_split({prev}, ' ') AS syms, cnt
                      FROM v{n-1} WHERE length({prev}) > 1) ,
                     unnest(generate_series(1, len(syms) - 1)) AS t(i)
                GROUP BY 1, 2
            ) ORDER BY freq DESC, l, r LIMIT 1
        ),
        v{n} AS (
            SELECT v.word, v.cnt, {fold} AS {cur}
            FROM v{n-1} v, p{n}
        )"""


def _spark_fold(rep, l, r):
    # Same greedy fold as _DUCK_FOLD, but the accumulator is a (done, last)
    # struct so the "last symbol" is a plain string compare instead of two
    # regex passes over a growing accumulator per element (the regex
    # formulation was 6x slower at sf10 vocab scale, and nesting fold rounds
    # pushed the expression out of whole-stage codegen into interpreted
    # regex). Values are identical by construction: same merge decisions,
    # same space-joined output string.
    empty = F.lit("")

    def _emit(acc):
        return (
            F.when(acc["last"] == empty, acc["done"])
            .when(acc["done"] == empty, acc["last"])
            .otherwise(F.concat(acc["done"], F.lit(" "), acc["last"]))
        )

    return F.aggregate(
        F.split(rep, " "),
        F.struct(empty.alias("done"), empty.alias("last")),
        lambda acc, x: F.when(
            (acc["last"] == l) & (x == r),
            F.struct(acc["done"].alias("done"), F.concat(l, r).alias("last")),
        ).otherwise(F.struct(_emit(acc).alias("done"), x.alias("last"))),
        _emit,
    )


@register(
    "bpe_train_merges",
    oracle=f"""
        WITH v0 AS (
            SELECT word, count(*) AS cnt,
                   trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS rep0
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)
            GROUP BY word
        ),
        {", ".join(_duck_round(n) for n in range(1, _BPE_ROUNDS + 1))}
        SELECT * FROM (
            {" UNION ALL ".join(
                f"SELECT CAST({n} AS BIGINT) AS round, l AS left_sym,"
                f" r AS right_sym, freq FROM p{n}"
                for n in range(1, _BPE_ROUNDS + 1)
            )}
        )
    """,
    ref="BPE vocabulary induction, the TRAINING LOOP (Sennrich et al. 2016): "
    f"{_BPE_ROUNDS} merge rounds fully unrolled as declarative plan stages — "
    "no driver-side collect anywhere. Each round: adjacent-pair counts over "
    "the VOCABULARY (|V| rows, never the token stream — bpe_top_merges' "
    "observation), 1-row argmax pair broadcast back, and the merge applied "
    "per word as a left fold over the symbol string (greedy non-overlapping "
    "replacement — '[a a a a]' merges to '[aa aa]', not '[aa a a]'; "
    "test-pinned). The same shape iterates to a full vocab: plan-per-round "
    "with a bounded 1-row artifact between rounds, exactly the kmeans-loop "
    "pattern. Output: the merge table (round, pair, frequency) — the "
    "artifact a tokenizer ships",
)
def bpe_train_merges(spark, sf_dir):
    wc = word_counts(T(spark, sf_dir, "documents"))
    v = wc.select(
        "word",
        "cnt",
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("rep"),
    )
    return bpe_merge_table(v, _BPE_ROUNDS)


@register(
    "bpe_apply_encode",
    oracle=f"""
        WITH v0 AS (
            SELECT word, count(*) AS cnt,
                   trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS rep0
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)
            GROUP BY word
        ),
        {", ".join(_duck_round(n) for n in range(1, _BPE_ROUNDS + 1))}
        SELECT word, cnt,
               CAST(len(string_split(rep{_BPE_ROUNDS}, ' ')) AS BIGINT) AS n_tokens
        FROM v{_BPE_ROUNDS}
    """,
    ref="the ENCODE half of the tokenizer story (bpe_train_merges is the "
    "train half): apply the trained merge table to the vocabulary, in merge "
    "order, and emit each word's token count under the learned vocab. This "
    "is how a tokenizer is USED on a 100 TB corpus: the merge table is a "
    "tiny broadcast artifact, merges apply over the |V|-row VOCABULARY "
    "(never the token stream) as the same greedy left fold as training, and "
    "per-document token counts then follow from a words->docs join. The "
    "oracle replays the identical fold chain in SQL, so train and encode "
    "cannot drift",
)
def bpe_apply_encode(spark, sf_dir):
    # The training loop already applies every merge to the vocabulary round
    # by round — the round-N vocabulary state IS the encoded vocabulary, so
    # asking bpe_merge_table for it removes the old shape's full word_counts
    # recompute plus _BPE_ROUNDS replayed fold passes (r11: 14.6 s -> the
    # train entry's cost at sf10). Values are identical by construction:
    # same pairs, same greedy fold, same order. final_v is None exactly when
    # training exhausted the vocabulary before round N — where the old
    # replay (and the oracle's cross join with an empty pN) produced an
    # EMPTY result, preserved here.
    wc = word_counts(T(spark, sf_dir, "documents"))
    v = wc.select(
        "word",
        "cnt",
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("rep"),
    )
    _, final_v = bpe_merge_table(v, _BPE_ROUNDS, with_final_vocab=True)
    if final_v is None:
        return spark.createDataFrame([], "word string, cnt long, n_tokens long")
    return final_v.select(
        "word",
        "cnt",
        F.size(F.split("rep", " ")).cast("long").alias("n_tokens"),
    )


def bpe_merge_table(v, rounds, checkpoint_every=8, with_final_vocab=False):
    """Train ``rounds`` BPE merges over a (word, cnt, rep) vocabulary frame.

    With ``with_final_vocab`` the return value is ``(merge_table, final_v)``
    where final_v is the round-``rounds`` vocabulary state (ledger-owned
    persisted frame — the ENCODE result, see bpe_apply_encode), or None when
    the vocabulary exhausted its pairs before round ``rounds``.

    ``rep`` is the space-delimited symbol string. Per round: count adjacent
    symbol pairs over the |V|-row vocabulary (never the token stream), take the
    global argmax pair, apply the greedy left-fold merge to every word. The
    1-row-per-round merge table accumulates and is the returned artifact.

    Bounded by construction (VERDICT r3 item 3 / ADVICE r3):

    - the pair scan filters on ``size(split(rep)) >= 2``, not
      ``length(rep) > 1`` — a word whose rep collapsed to ONE multi-char
      symbol (e.g. 'to' after merge (t, o)) has length 2 but no pairs, and
      under ANSI mode ``element_at(syms, 2)`` on its 1-element array throws
      INVALID_ARRAY_INDEX_IN_ELEMENT_AT; DuckDB's ``generate_series(1, 0)``
      is empty for the same row, so the old filter was a data-dependent
      engine divergence (crashed on PySpark 4.1.2 where the oracle succeeded);
    - the per-round 1-row argmax is localCheckpoint-ed, so the pair fed back
      into the fold has an O(1) plan. Without this the vocabulary's logical
      plan references the previous argmax, which references the previous
      vocabulary, which references the argmax before it — EXPONENTIAL plan
      growth (a 25-round run OOMed the driver on plan bookkeeping alone with
      tiny data);
    - each round eagerly materializes the next vocabulary then unpersists its
      predecessor — at most two vocabulary-sized frames are cached at once,
      at any number of rounds (the old code leaked one per round);
    - every ``checkpoint_every`` rounds the vocabulary itself is
      localCheckpoint-ed, truncating the otherwise linearly growing fold
      lineage (superseded checkpoint RDDs are freed by the ContextCleaner);
    - still no driver-side collect: the argmax stays a 1-row DataFrame
      broadcast into the fold, and the returned merge table is a union of the
      checkpointed 1-row artifacts — collect-safe after every vocabulary
      frame is dropped.
    """
    from pyspark import StorageLevel

    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    v.count()
    out = []
    for n in range(1, rounds + 1):
        syms = F.split("rep", " ")
        pairs = (
            v.filter(F.size(F.split("rep", " ")) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - 1),
                        lambda i: F.struct(
                            F.element_at(syms, i).alias("l"),
                            F.element_at(syms, i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").cast("long").alias("freq"))
        )
        top1 = (
            pairs.orderBy(F.col("freq").desc(), "l", "r")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        if top1.isEmpty():  # no pair left anywhere: vocab fully merged
            break
        out.append(
            top1.select(
                F.lit(n).cast("long").alias("round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                "freq",
            )
        )
        if n == rounds:
            if with_final_vocab:
                # populated by owned_persist before v unpersists below
                final_v, _ = owned_persist(
                    v.crossJoin(F.broadcast(top1)).select(
                        "word",
                        "cnt",
                        _spark_fold(
                            F.col("rep"), F.col("l"), F.col("r")
                        ).alias("rep"),
                    )
                )
            break  # the round-N vocabulary is only built when asked for
        nxt = v.crossJoin(F.broadcast(top1)).select(
            "word",
            "cnt",
            _spark_fold(F.col("rep"), F.col("l"), F.col("r")).alias("rep"),
        )
        if n % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
            nxt.count()
        v.unpersist()
        v = nxt
    v.unpersist()
    if not out:  # degenerate input: nothing mergeable in round 1
        empty = v.sparkSession.createDataFrame(
            [], "round long, left_sym string, right_sym string, freq long"
        )
        return (empty, None) if with_final_vocab else empty
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    if with_final_vocab:
        return res, (final_v if len(out) == rounds else None)
    return res


@register(
    "source_overlap_matrix",
    oracle=f"""
        WITH fps AS ({_WINNOW_ORACLE}),
        sf AS (
            SELECT DISTINCT d.source, f.fp
            FROM fps f JOIN documents d USING (doc_id)
        ),
        sizes AS (SELECT source, count(*) AS sz FROM sf GROUP BY source),
        shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b, n_shared,
               (floor(n_shared / (CAST(sa.sz AS BIGINT) + CAST(sb.sz AS BIGINT)
                                  - n_shared) * 1000000 + 0.5) / 1000000)
                   AS jaccard
        FROM shared
        JOIN sizes sa ON sa.source = source_a
        JOIN sizes sb ON sb.source = source_b
    """,
    ref="source-pair content-overlap matrix — the provenance-leakage "
    "governance readout a corpus pipeline runs before mixing sources "
    "(two 'independent' crawls sharing winnow fingerprints means shared "
    "upstream content; weighting both up double-counts it): per-source "
    "DISTINCT winnow fingerprint sets, fingerprint-keyed self-join for "
    "pair co-occurrence counts, Jaccard from exact integer set sizes "
    "(single division, fround). Output is bounded at |sources|² rows; the "
    "only corpus-scale shuffles are the per-source distinct and the "
    "fp-keyed join (same shape as dedup_containment's shingle join). "
    "Builds on doc_winnow_fingerprints' map-side kernel",
)
def source_overlap_matrix(spark, sf_dir):
    fps = _winnow_frame(spark, sf_dir)
    src = T(spark, sf_dir, "documents").select("doc_id", "source")
    # sf feeds three consumer branches (sizes + both self-join sides); the
    # winnow kernel chain behind it is the expensive part.
    sf, _ = owned_persist(fps.join(src, "doc_id").select("source", "fp").distinct())
    sizes = sf.groupBy("source").agg(F.count("*").alias("sz"))
    a = sf.select(F.col("source").alias("source_a"), "fp")
    b = sf.select(F.col("source").alias("source_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.floor(
                    F.col("n_shared")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("jaccard"),
        )
    )
