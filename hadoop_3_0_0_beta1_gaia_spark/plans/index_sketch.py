"""Inverted index + frequency-sketch inventory queries.

Completes the classic MapReduce text family (the reference ships word
counting / histograms — AggregateWordCount.java, AggregateWordHistogram.java,
WordCount.java — of which an inverted index is the canonical "next" job) and
adds the bounded-state frequency sketch (CountMin) that a 100 TB corpus
pipeline uses where an exact per-term groupBy is unnecessary, plus the
Lee-et-al-style duplicated-substring contamination metric used to cut
training documents.

Scale posture:
- ``inverted_index_postings``: two hash aggregations (term-doc tf, then
  per-term stats) with map-side partials; posting lists are materialized
  ONLY for rare terms (df <= cap) via a filter-then-join second pass, so no
  executor ever collects the posting list of a stopword-grade term. At
  100 TB the rare-term join is a shuffle join on term — fine.
- ``cms_token_freq``: the sketch table is d*w rows TOTAL regardless of input
  size (here 4*256), built by one hash aggregation over the token stream;
  the estimate step broadcast-joins that tiny table. CountMin guarantees
  est >= true and E[est - true] <= 2N/w — the query emits both so the bound
  is visible (and oracle-checked) rather than asserted.
- ``dedup_substring_spans``: span hashes are linear in token count; the
  doc-frequency aggregation and the per-doc rollup are plain hash
  aggregations — there is NO pair expansion anywhere (unlike the winnow
  pair search), so a boilerplate mega-span cannot go quadratic.

All hashing is md5-derived (functions/dedup.py contract) so every entry has
an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.dedup import duck_md5_int32, duck_md5_long, md5_int32, md5_long
from ..functions.rounding import duck_fround, fround
from ..functions.sketch import duckdb_hll_distinct
from ..functions.md5np import Md5Intern
from ..functions.text_metrics import duck_tokens, py_ngrams, py_tokens, tokens
from ..session import owned_persist
from ..session import table as T
from .registry import register

_TOKS = duck_tokens("text")

# inverted index: posting lists only for terms in <= this many docs
_POSTING_DF_CAP = 16

# CountMin geometry
_CMS_D = 4
_CMS_W = 256

# duplicated-substring window (tokens)
_SPAN_W = 8


@register(
    "inverted_index_postings",
    oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        tf AS (
            SELECT term, doc_id, count(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM d)
            GROUP BY term, doc_id
        ),
        stats AS (
            SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
            FROM tf GROUP BY term
        ),
        posts AS (
            SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS postings
            FROM tf
            WHERE term IN (SELECT term FROM stats WHERE df <= {_POSTING_DF_CAP})
            GROUP BY term
        )
        SELECT term, df, cf, postings
        FROM stats LEFT JOIN posts USING (term)
    """,
    ref="inverted index — the canonical companion job to MR-EX/WordCount.java / "
    "AggregateWordHistogram.java (term -> doc-frequency, collection-frequency, "
    "posting list). Posting lists are built in a SECOND pass restricted to rare "
    "terms (df <= cap): a single collect_list groupBy would materialize the "
    "posting list of every stopword on one executor at 100 TB",
)
def inverted_index_postings(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    # tf feeds three consumers; measured A/B at sf0.1 says RECOMPUTE wins here
    # (0.69 s vs 1.08 s persisted): the producing scan+explode+agg is cheaper
    # than writing the term-doc frame to cache — the opposite call from the
    # shingle pipelines, where the producer chain is heavy (see
    # containment_pairs/ngram_jaccard_pairs).
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    rare = stats.filter(F.col("df") <= _POSTING_DF_CAP).select("term")
    posts = (
        tf.join(rare, "term")
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings")
        )
    )
    return stats.join(posts, "term", "left").select("term", "df", "cf", "postings")


def _duck_cms_cell(row_sql: str, token_sql: str) -> str:
    return f"({duck_md5_int32(f'{row_sql}::VARCHAR || ' + chr(39) + ':' + chr(39) + f' || {token_sql}')} % {_CMS_W})"


@register(
    "cms_token_freq",
    oracle=f"""
        WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
        rows AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r),
        cells AS (
            SELECT token, r, {_duck_cms_cell('r', 'token')} AS cell
            FROM toks CROSS JOIN rows
        ),
        sketch AS (SELECT r, cell, count(*) AS c FROM cells GROUP BY r, cell),
        vocab AS (SELECT token, count(*) AS true_cnt FROM toks GROUP BY token),
        cand AS (
            SELECT token, true_cnt, r, {_duck_cms_cell('r', 'token')} AS cell
            FROM vocab CROSS JOIN rows
        )
        SELECT token,
               CAST(min(c) AS BIGINT) AS est_cnt,
               true_cnt,
               CAST(min(c) - true_cnt AS BIGINT) AS overcount
        FROM cand JOIN sketch USING (r, cell)
        GROUP BY token, true_cnt
    """,
    ref="CountMin frequency sketch as a relational aggregation: d=4 md5-derived "
    "hash rows x w=256 cells. The sketch table is d*w rows regardless of corpus "
    "size (built by summing pre-aggregated per-token counts into cells — "
    "value-identical to hashing the raw stream, |V|*d hashes instead of "
    "corpus*d; at 100 TB it is the bounded-state stand-in for a full per-term "
    "count). Estimates broadcast-join "
    "the tiny table; est >= true always, and the overcount column exposes the "
    "collision error the 2N/w bound promises. Bounded-state kin of "
    "UniqValueCount.java:35-75's capped set and the KMV entry",
)
def cms_token_freq(spark, sf_dir):
    toks = T(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    rows = F.array([F.lit(r) for r in range(_CMS_D)])

    def cell(row_col, token_col):
        return md5_int32(
            F.concat_ws(":", row_col.cast("string"), token_col)
        ) % _CMS_W

    # The sketch is built from the pre-aggregated vocabulary, not the raw
    # occurrence stream: sum(true_cnt) per (r, cell) equals count(*) over
    # exploded occurrences exactly, but hashes |V|*d tokens instead of
    # corpus*d occurrences (~200x fewer md5s at sf10) and shuffles the
    # |V|-row frame once. The oracle keeps the occurrence-stream form; the
    # two are value-identical by construction.
    vocab = toks.groupBy("token").agg(F.count("*").alias("true_cnt"))
    cand = vocab.select(
        "token", "true_cnt", F.explode(rows).alias("r")
    ).withColumn("cell", cell(F.col("r"), F.col("token")))
    sketch = cand.groupBy("r", "cell").agg(F.sum("true_cnt").alias("c"))
    return (
        cand.join(F.broadcast(sketch), ["r", "cell"])
        .groupBy("token", "true_cnt")
        .agg(F.min("c").alias("est_cnt"))
        .select(
            "token",
            "est_cnt",
            "true_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overcount"),
        )
    )


def _duck_span_hashes(toks_sql: str, w: int = _SPAN_W) -> str:
    """DuckDB twin of :func:`_span_hashes_expr`: the 60-bit md5 key of every
    w-token window of ``toks_sql``."""
    window = f"array_to_string({toks_sql}[i : i + {w - 1}], ' ')"
    return (
        f"list_transform(generate_series(1, len({toks_sql}) - {w - 1}),"
        f" i -> {duck_md5_long(window)})"
    )


@register(
    "dedup_substring_spans",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, toks FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
            WHERE len(toks) >= {_SPAN_W}
        ),
        spans AS (
            SELECT doc_id, unnest({_duck_span_hashes('toks')}) AS sh FROM d
        ),
        shared AS (
            SELECT sh FROM spans GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT doc_id,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN sh IN (SELECT sh FROM shared) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_spans,
               {duck_fround(
                   'sum(CASE WHEN sh IN (SELECT sh FROM shared) THEN 1 ELSE 0 END)'
                   ' / count(*)', 6)} AS dup_frac
        FROM spans
        GROUP BY doc_id
    """,
    ref="duplicated-substring contamination metric (Deduplicating Training Data "
    "Makes Language Models Better, Lee et al. 2022 — the exact-substring pass): "
    f"every {_SPAN_W}-token window is hashed; a span is duplicated if the same "
    "hash occurs in >= 2 distinct documents; each doc reports its duplicated-span "
    "fraction (the cut signal). Linear everywhere: span stream ~ token stream, "
    "doc-frequency and per-doc rollup are hash aggs, NO pair expansion — the "
    "doc-level complement to doc_winnow_near_dup's pair search",
)
def dedup_substring_spans(spark, sf_dir):
    # Kernel span stream, persisted: the frame feeds TWO consumers (the
    # shared-hash doc-frequency agg and the per-doc flag join) — unpersisted,
    # each re-ran the full span-hash fold over the corpus (r11 measured: the
    # fold was ~2x the entry's floor).
    spans, _ = owned_persist(_span_hash_stream(T(spark, sf_dir, "documents")))
    shared = (
        spans.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    flagged = spans.join(shared.withColumn("dup", F.lit(1)), "sh", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("dup").isNotNull(), 1).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            fround(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_frac"),
        )
    )


def _span_hashes_expr(toks_col: str = "toks", w: int = _SPAN_W):
    """Spark column: the 60-bit ``md5_long`` key of every w-token window of
    ``toks_col`` — kept as the bit-equality reference twin for
    :func:`_span_hash_stream` (tests pin kernel == expression on
    adversarial rows)."""
    toks = F.col(toks_col)
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (w - 1)),
        lambda i: md5_long(F.concat_ws(" ", F.slice(toks, i, w))),
    )


def _span_hash_stream(df, w: int = _SPAN_W, id_col: str = "doc_id"):
    """Exploded (doc_id, sh) span-hash stream — Arrow-kernel path,
    bit-identical to exploding :func:`_span_hashes_expr` over
    ``tokens(text)`` (the 8-byte ``md5_60`` key of identical UTF-8 bytes,
    the key format of every gram kernel; docs with < w tokens emit
    nothing). Same rationale as functions/dedup.py's shingle/positional-gram
    kernels (guide §4.2): the interpreted slice/concat_ws/md5 chain paid
    ~8 µs per window; the kernel tokenizes with
    :func:`text_metrics.py_tokens`, hashes each window once in C through the
    shared :class:`md5np.Md5Intern` and explodes in Python. Map-side, zero
    exchanges."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("sh", LongType(), False),
        ]
    )
    base = df.select(F.col(id_col).alias("doc_id"), "text")

    def kernel(batches):
        intern = Md5Intern()
        for pdf in batches:
            if not len(pdf):
                continue
            ids: list[int] = []
            shs: list[int] = []
            texts = pdf["text"]
            id_vals = pdf["doc_id"]
            for row in range(len(pdf)):
                text = texts.iloc[row]
                if text is None:
                    continue
                toks = py_tokens(text)
                if len(toks) < w:
                    continue
                hs = intern.hash_all(py_ngrams(toks, w))
                ids.extend([id_vals.iloc[row]] * len(hs))
                shs.extend(hs)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "sh": pd.Series(shs, dtype="int64"),
                }
            )

    from ..session import ensure_parallelism

    return ensure_parallelism(base).mapInPandas(kernel, schema=schema)


# deterministic pseudo eval set: ~1% of docs
_EVAL_MOD = 97


@register(
    "decontaminate_eval_overlap",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, toks FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
            WHERE len(toks) >= {_SPAN_W}
        ),
        spans AS (
            SELECT doc_id, unnest({_duck_span_hashes('toks')}) AS sh FROM d
        ),
        eval_spans AS (
            SELECT DISTINCT sh FROM spans WHERE doc_id % {_EVAL_MOD} = 0
        )
        SELECT doc_id,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN sh IN (SELECT sh FROM eval_spans)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits,
               CAST(max(CASE WHEN sh IN (SELECT sh FROM eval_spans)
                             THEN 1 ELSE 0 END) AS BIGINT) AS contaminated
        FROM spans
        WHERE doc_id % {_EVAL_MOD} <> 0
        GROUP BY doc_id
    """,
    ref="benchmark decontamination (GPT-3 appendix-C / PaLM-style n-gram overlap): "
    f"training docs are flagged when any {_SPAN_W}-token span also occurs in the "
    "eval set (deterministic ~1% pseudo eval split here; a real run substitutes "
    "the benchmark suite). The eval span set is benchmark-sized — tiny relative "
    "to the corpus — so it BROADCASTS and the training-span stream is probed "
    "map-side: no shuffle keyed on span hash, linear in corpus tokens",
)
def decontaminate_eval_overlap(spark, sf_dir):
    # Each side filters the CORPUS before the span kernel, not the span
    # stream after it: a filter above an opaque Python map node cannot push
    # into the scan, so the old shape would have run the span fold twice
    # over the full corpus once the fold moved into the kernel. Filtering
    # doc_id at the scan keeps the eval side a ~1% pass.
    d = T(spark, sf_dir, "documents")
    eval_spans = (
        _span_hash_stream(d.filter(F.col("doc_id") % _EVAL_MOD == 0))
        .select("sh")
        .distinct()
    )
    train = _span_hash_stream(d.filter(F.col("doc_id") % _EVAL_MOD != 0))
    hit = train.join(
        F.broadcast(eval_spans.withColumn("hit", F.lit(1))), "sh", "left"
    )
    return hit.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).alias("n_eval_hits"),
        F.max(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("contaminated"),
    )


# BM25 parameters (Robertson/Sparck-Jones defaults) and a fixed demo query
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("table", "spark", "filter")
_BM25_TOPK = 10


def bm25_doc_toks(spark, sf_dir):
    """(doc_id, toks) token arrays for the BM25 retrieval family — ONE
    tokenize of the corpus, persisted (ledger-owned), so every consumer
    across the family (document lengths, corpus stats, pass-1 term tf,
    feedback-term election, pass-2 scoring) explodes from the cached
    2-column array frame instead of re-running the regex tokenizer per
    branch. This is the ccnet_lm_buckets token-array pattern
    (llm_quality.py) applied to retrieval: the tokenize is the dominant
    scan cost at sf10 and the arrays are narrow."""
    d, _ = owned_persist(
        T(spark, sf_dir, "documents").select(
            "doc_id", tokens(F.col("text")).alias("toks")
        )
    )
    return d


@register(
    "bm25_search_topk",
    oracle=f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        dl AS (SELECT doc_id, len(toks) AS dl FROM d),
        stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM d)
            WHERE term IN {_BM25_QUERY}
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT tf.doc_id,
                   sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * tf * ({_BM25_K1} + 1.0)
                       / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))
                   ) AS s
            FROM tf
            JOIN dfreq USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
        )
        SELECT doc_id, score, rank FROM (
            SELECT doc_id, {duck_fround('s', 6)} AS score,
                   CAST(row_number() OVER (
                       ORDER BY {duck_fround('s', 6)} DESC, doc_id
                   ) AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= {_BM25_TOPK}
    """,
    ref="BM25 ranked retrieval over the inverted-index statistics (Robertson "
    "k1=1.2 b=0.75) for a fixed conjunctive query — the search half of "
    "inverted_index_postings. The corpus is tokenized ONCE into a persisted "
    "token-array frame shared by every consumer (dl, corpus stats, term tf "
    "— and, via the `toks` parameter, the whole retrieval family: "
    "prf_rm3_search and hybrid_rrf_search reuse the same cache instead of "
    "re-running the regex tokenizer per branch; the ccnet_lm_buckets "
    "token-array pattern). The exploded stream filters to query terms "
    "BEFORE any shuffle (IN predicate over literals), so the per-(doc,term) "
    "agg touches query-matching tokens only; df and the (N, avgdl) corpus "
    "stats are term-count-sized / 1-row frames joined broadcast; final "
    "top-k is a TakeOrdered, never a global sort. Ranks order by the "
    "ROUNDED score + doc_id so both engines agree despite float fold order",
)
def bm25_search_topk(spark, sf_dir, *, toks=None):
    d = toks if toks is not None else bm25_doc_toks(spark, sf_dir)
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_score = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("s"))
        .select("doc_id", fround(F.col("s"), 6).alias("score"))
    )
    # TakeOrdered first (distributed top-k), THEN rank the tiny k-row result
    # with a window — the single partition only ever holds k rows.
    topk = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(_BM25_TOPK)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


# z-order layout: normalized bits per dimension and target file count.
# Dimensions MUST be normalized to a common bit-width before interleaving —
# raw keys with mismatched ranges (custkey ~2^8 vs epoch-days ~2^14) let one
# dimension's high bits dominate every leading interleave position and the
# "z-order" degenerates to a single-column sort (measured: avg per-file
# custkey range 145/149 ≈ no locality before normalization).
_Z_BITS = 8
_Z_FILES = 16


def _z_terms():
    """(spark_expr_builder, duck_sql) for the bit-interleaved z-value of
    normalized dims (an, bn) — generated from ONE loop so the engines cannot
    drift."""
    duck = " + ".join(
        f"(((an >> {i}) & 1) << {2 * i}) + (((bn >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )

    def spark(a, b):
        total = F.lit(0).cast("long")
        for i in range(_Z_BITS):
            total = total + (
                F.shiftleft(F.shiftright(a, i).bitwiseAND(1), 2 * i)
                + F.shiftleft(F.shiftright(b, i).bitwiseAND(1), 2 * i + 1)
            ).cast("long")
        return total

    return spark, duck


_Z_MAXV = (1 << _Z_BITS) - 1


@register(
    "zorder_layout_orders",
    oracle=f"""
        WITH keyed AS (
            SELECT o_orderkey,
                   o_custkey AS a,
                   CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS b
            FROM orders
        ),
        bounds AS (
            SELECT min(a) AS amin, max(a) AS amax, min(b) AS bmin, max(b) AS bmax
            FROM keyed
        ),
        normed AS (
            SELECT o_orderkey, a, b,
                   ((a - amin) * {_Z_MAXV}) // greatest(amax - amin, 1) AS an,
                   ((b - bmin) * {_Z_MAXV}) // greatest(bmax - bmin, 1) AS bn
            FROM keyed CROSS JOIN bounds
        ),
        z AS (SELECT o_orderkey, a, b, ({_z_terms()[1]}) AS zval FROM normed),
        ranked AS (
            SELECT a, b,
                   row_number() OVER (ORDER BY zval, o_orderkey) - 1 AS rk,
                   count(*) OVER () AS total
            FROM z
        )
        SELECT file_id, count(*) AS n_rows,
               min(a) AS cust_min, max(a) AS cust_max,
               min(b) AS day_min,  max(b) AS day_max
        FROM (SELECT CAST(rk * {_Z_FILES} // total AS BIGINT) AS file_id, a, b
              FROM ranked)
        GROUP BY file_id
    """,
    ref="z-order (Morton) data layout over (o_custkey, o_orderdate): min-max "
    f"normalize each dimension to {_Z_BITS} bits with exact integer DIV "
    "(broadcast 1-row bounds frame), interleave, two-phase global rank on the "
    "z-value (operators/sort.py:global_rank — range partition + offsets, never "
    "a single-partition window), slice into equal file buckets, and report each "
    "file's (custkey, day) bounding box. This is the layout job a 100 TB table "
    "runs so BOTH per-column min/max file stats stay tight — the Delta/Iceberg "
    "OPTIMIZE ZORDER semantics as a plain DataFrame pipeline; the output IS the "
    "file-skipping index a scan would prune with",
)
def zorder_layout_orders(spark, sf_dir):
    from ..operators.sort import global_rank
    from ..session import instant_ts

    zf, _ = _z_terms()
    keyed = instant_ts(T(spark, sf_dir, "orders"), "o_orderdate").select(
        "o_orderkey",
        F.col("o_custkey").alias("a"),
        # epoch-day via exact integer micros, NOT CAST(ts AS DATE): the cast
        # renders the instant in the SESSION timezone, so under the driver's
        # America/New_York session every midnight-UTC orderdate slid back one
        # day (caught by tools/driver_check.py — the engine session's UTC tz
        # masked it in the pytest gate)
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("b"),
    )
    bounds = keyed.agg(
        F.min("a").alias("amin"), F.max("a").alias("amax"),
        F.min("b").alias("bmin"), F.max("b").alias("bmax"),
    )
    normed = keyed.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey", "a", "b",
        F.expr(f"((a - amin) * {_Z_MAXV}) DIV greatest(amax - amin, 1)").alias("an"),
        F.expr(f"((b - bmin) * {_Z_MAXV}) DIV greatest(bmax - bmin, 1)").alias("bn"),
    )
    z = normed.select(
        "o_orderkey", "a", "b", zf(F.col("an"), F.col("bn")).alias("zval")
    )
    ranked = global_rank(z, [F.col("zval"), F.col("o_orderkey")], rank_name="rk")
    total = ranked.agg(F.count("*").alias("total"))
    files = ranked.crossJoin(F.broadcast(total)).select(
        ((F.col("rk") - 1) * _Z_FILES / F.col("total"))
        .cast("long")
        .alias("file_id"),
        "a",
        "b",
    )
    return files.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("a").alias("cust_min"),
        F.max("a").alias("cust_max"),
        F.min("b").alias("day_min"),
        F.max("b").alias("day_max"),
    )


@register(
    "hll_distinct_users",
    oracle=duckdb_hll_distinct("events", "event_type", "user_id"),
    ref="HyperLogLog per-group distinct count (the principled bounded-state "
    "twin of UniqValueCount.java:35-75's truncating exact set, alongside "
    "kmv_distinct_users): 256 registers per group, rho from exact bit-length "
    "(never float log2), harmonic sum rescaled to order-free BIGINT powers of "
    "two so the estimate is bit-identical on any engine at any parallelism. "
    "No ln()-based range corrections (libm-dependent) — the zero-register "
    "count is emitted for driver-side linear counting instead. State is 256 "
    "ints per group: mergeable partial aggregation, the 100 TB shape; the "
    "exact n_exact column is a second hash agg for error visibility",
)
def hll_distinct_users(spark, sf_dir):
    from ..functions.sketch import hll_distinct

    return hll_distinct(T(spark, sf_dir, "events"), "event_type", "user_id")


# Bloom filter geometry: m bits, k hash probes
_BLOOM_M = 4096
_BLOOM_K = 3


def _bloom_pos_duck(i_sql: str, key_sql: str) -> str:
    return f"({duck_md5_long(f'{i_sql}::VARCHAR || ' + chr(39) + ':' + chr(39) + f' || {key_sql}::VARCHAR')} % {_BLOOM_M})"


@register(
    "bloom_filter_probe",
    oracle=f"""
        WITH probes AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i),
        members AS (
            SELECT DISTINCT c_custkey AS key FROM customer
            WHERE c_mktsegment = 'BUILDING'
        ),
        bits AS (
            SELECT DISTINCT {_bloom_pos_duck('i', 'key')} AS pos
            FROM members CROSS JOIN probes
        ),
        probe_keys AS (SELECT DISTINCT o_custkey AS key FROM orders),
        hits AS (
            SELECT pk.key, count(*) AS n_hit
            FROM (SELECT key, i, {_bloom_pos_duck('i', 'key')} AS pos
                  FROM probe_keys CROSS JOIN probes) pk
            JOIN bits USING (pos)
            GROUP BY pk.key
        ),
        accepted AS (SELECT key FROM hits WHERE n_hit = {_BLOOM_K}),
        truth AS (SELECT key FROM probe_keys WHERE key IN (SELECT key FROM members))
        SELECT (SELECT count(*) FROM probe_keys) AS n_probed,
               (SELECT count(*) FROM accepted)   AS n_accepted,
               (SELECT count(*) FROM truth)      AS n_members,
               (SELECT count(*) FROM accepted WHERE key NOT IN (SELECT key FROM truth))
                   AS n_false_pos
    """,
    ref="Bloom-filter membership (the reference ships BloomMapFile / "
    "DynamicBloomFilter, io/bloom/*.java, used by MapFileOutputFormat — the "
    "mapfile_point_lookup entry uses Spark's parquet bloom; this is the "
    f"filter itself as relational state): k={_BLOOM_K} md5-derived positions "
    f"into m={_BLOOM_M} bits, the filter is the DISTINCT set-bit table "
    "(bounded by m rows — broadcastable at any corpus size), a probe key is "
    "accepted iff all k positions hit. No false negatives by construction "
    "(pytest-pinned); false positives are oracle-visible in the output row. "
    "The 100 TB join-pruning idiom: broadcast the bit table, semi-filter the "
    "fact side before the real shuffle join",
)
def bloom_filter_probe(spark, sf_dir):
    probes = F.explode(
        F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    ).alias("i")
    members = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    pos = lambda: (  # noqa: E731
        md5_long(F.concat_ws(":", F.col("i"), F.col("key"))) % _BLOOM_M
    ).alias("pos")
    bits = members.select("key", probes).select(pos()).distinct()
    probe_keys = (
        T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key")).distinct()
    )
    probe_pos = probe_keys.select("key", probes).select("key", pos())
    hits = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("key")
        .agg(F.count("*").alias("n_hit"))
    )
    accepted = hits.filter(F.col("n_hit") == _BLOOM_K).select("key")
    truth = probe_keys.join(members, "key", "leftsemi")
    n_probed = probe_keys.agg(F.count("*").alias("n_probed"))
    n_accepted = accepted.agg(F.count("*").alias("n_accepted"))
    n_members = truth.agg(F.count("*").alias("n_members"))
    n_false = (
        accepted.join(truth, "key", "left_anti")
        .agg(F.count("*").alias("n_false_pos"))
    )
    return (
        n_probed.crossJoin(F.broadcast(n_accepted))
        .crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_false))
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch (bounded-state approximate quantiles)
# ---------------------------------------------------------------------------

_QSK_W = 1024          # histogram width: the sketch's total state, ever
_QSK_QS = (25, 50, 75, 90, 99)


@register(
    "value_quantile_sketch",
    oracle=f"""
        WITH micro AS (
            SELECT CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
            FROM events
        ),
        bounds AS (
            SELECT min(vm) AS lo, max(vm) AS hi, count(*) AS total FROM micro
        ),
        binned AS (
            SELECT ((vm - lo) * {_QSK_W}) // (hi - lo + 1) AS bucket,
                   count(*) AS cnt
            FROM micro, bounds GROUP BY 1
        ),
        cum AS (
            SELECT bucket, cnt,
                   sum(cnt) OVER (ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING) AS cum_cnt
            FROM binned
        ),
        q(q) AS (SELECT unnest([{", ".join(str(q) for q in _QSK_QS)}])),
        hits AS (
            SELECT q, bucket, cum_cnt,
                   row_number() OVER (PARTITION BY q ORDER BY bucket) AS rn
            FROM q JOIN cum ON cum_cnt * 100 >= q * (SELECT total FROM bounds)
        )
        SELECT CAST(q AS BIGINT) AS quantile_pct,
               CAST(bucket AS BIGINT) AS bucket,
               CAST((SELECT lo FROM bounds)
                    + (2 * bucket + 1) * ((SELECT hi FROM bounds) - (SELECT lo FROM bounds) + 1)
                      // (2 * {_QSK_W}) AS BIGINT) AS est_micro,
               CAST(cum_cnt AS BIGINT) AS cum_cnt,
               CAST(((SELECT hi FROM bounds) - (SELECT lo FROM bounds) + 1)
                    // {_QSK_W} AS BIGINT) AS err_bound_micro
        FROM hits WHERE rn = 1
    """,
    ref="bounded-state approximate quantiles (the KLL/t-digest role, exactly "
    "computable form): a fixed-width {W}-bin histogram over integer micro-units "
    "— total sketch state is {W} counters no matter the corpus size, vs the "
    "full sort an exact quantile needs at 100 TB (order_price_deciles / "
    "quantity_quantiles_by_flag are the exact anchors). Two passes: a 1-row "
    "(min,max,count) aggregate broadcasts, then one hash agg bins every row; "
    "the cumulative walk runs over {W} rows only. Every step is exact integer "
    "arithmetic (values quantize via DECIMAL(18,6) micro-units — double->BIGINT "
    "casts round differently across engines), and the reported err_bound_micro "
    "is the bin width: |est - true| <= width/2 by construction. Reference "
    "surface: ValueHistogram (LIB/aggregate/ValueHistogram.java) generalized "
    "from exact per-key counts to a bounded-state distribution sketch".format(
        W=_QSK_W
    ),
)
def value_quantile_sketch(spark, sf_dir):
    ev = T(spark, sf_dir, "events").select(
        (F.col("value").cast("decimal(18,6)") * 1000000).cast("long").alias("vm")
    )
    bounds = ev.agg(
        F.min("vm").alias("lo"), F.max("vm").alias("hi"), F.count("*").alias("total")
    )
    binned = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(f"((vm - lo) * {_QSK_W}) DIV (hi - lo + 1)").alias("bucket"),
            "lo", "hi", "total",
        )
        .groupBy("bucket", "lo", "hi", "total")
        .agg(F.count("*").alias("cnt"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = binned.withColumn("cum_cnt", F.sum("cnt").over(wcum))
    qs = spark.range(0, len(_QSK_QS)).select(
        F.element_at(
            F.array(*[F.lit(q) for q in _QSK_QS]), (F.col("id") + 1).cast("int")
        ).alias("q")
    )
    hits = (
        qs.join(
            F.broadcast(cum),
            F.col("cum_cnt") * 100 >= F.col("q") * F.col("total"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("q").orderBy("bucket")),
        )
        .filter(F.col("rn") == 1)
    )
    return hits.select(
        F.col("q").cast("long").alias("quantile_pct"),
        F.col("bucket").cast("long").alias("bucket"),
        F.expr(f"CAST(lo + (2 * bucket + 1) * (hi - lo + 1) DIV (2 * {_QSK_W}) AS BIGINT)").alias(
            "est_micro"
        ),
        F.col("cum_cnt").cast("long").alias("cum_cnt"),
        F.expr(f"CAST((hi - lo + 1) DIV {_QSK_W} AS BIGINT)").alias("err_bound_micro"),
    )


@register(
    "hll_merge_daily",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.sketch",
        fromlist=["duckdb_hll_merge_demo"],
    ).duckdb_hll_merge_demo("events", "date_trunc('day', ts)", "user_id"),
    ref="HLL MERGEABILITY — the property that makes sketches the 100 TB "
    "answer: one register table per DAY (the persistable per-partition "
    "artifact), rolled up by register-wise max, must equal the direct "
    "global sketch. Both estimates are computed and compared IN the query "
    "(equality is algebra — max is associative — but here it is verified, "
    "not asserted), so a regression in either path is oracle-visible. "
    "Per-day tables are 256 ints each: rolling a year of 100 TB days into "
    "a global distinct count touches 365*256 ints, zero raw data",
)
def hll_merge_daily(spark, sf_dir):
    from ..functions.sketch import hll_merge_demo

    return hll_merge_demo(
        T(spark, sf_dir, "events"), F.date_trunc("day", F.col("ts")), "user_id"
    )


@register(
    "hll_rollup_grains",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.sketch",
        fromlist=["duckdb_hll_rollup"],
    ).duckdb_hll_rollup(
        "events", "event_type", "strftime(date_trunc('day', ts), '%Y-%m-%d')",
        "user_id",
    ),
    ref="sketch x grouping composition: ONE fine-grained (type, day, register) "
    "HLL table serves per-type, per-day, AND global distinct-user estimates "
    "via register-wise max rollups — the cube/rollup idiom applied to a "
    "mergeable sketch instead of an additive sum (hll_merge_daily proves the "
    "merge law; this entry exploits it across grains). At 100 TB: the raw "
    "stream is read ONCE into |types|x|days|x256 ints, every coarser grain "
    "is a rollup over that bounded table — the fine table persists (three "
    "consumers, no exchange reuse otherwise)",
)
def hll_rollup_grains(spark, sf_dir):
    from ..functions.sketch import hll_rollup

    return hll_rollup(
        T(spark, sf_dir, "events"),
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"),
        "user_id",
    )


@register(
    "kmv_set_overlap",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.sketch",
        fromlist=["duckdb_kmv_set_overlap"],
    ).duckdb_kmv_set_overlap(
        "SELECT user_id FROM events WHERE event_type = 'click'",
        "SELECT user_id FROM events WHERE event_type = 'purchase'",
        "user_id",
    ),
    ref="KMV sketch SET ALGEBRA (Beyer et al. 2007): union size, intersection "
    "size and Jaccard of clicker-users vs purchaser-users estimated from the "
    "two k-min sketches ALONE — the audience-overlap query where only sketches "
    "are retained at 100 TB. Kθ = k smallest of the merged sketches is itself "
    "a valid union sketch (KMV closure), jaccard = in-both fraction of Kθ. "
    "Exact |A|, |B|, |A∩B| emitted alongside (error-visibility pattern); "
    "every step is md5/integer-exact so both engines agree to the bit",
)
def kmv_set_overlap(spark, sf_dir):
    from ..functions.sketch import kmv_set_overlap

    ev = T(spark, sf_dir, "events")
    return kmv_set_overlap(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "user_id",
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and the
# semantic (cosine kNN) top-k lists
# ---------------------------------------------------------------------------

# RRF constant (Cormack/Clarke/Buettcher 2009's k=60) and the fixed semantic
# query id (doc_id == vec_id in the fixture, so both lists rank the same
# corpus). Each list contributes 1/(C + rank); absent docs contribute 0.
_RRF_C = 60
_RRF_QID = 42
_RRF_K = 10


def _rrf_oracle() -> str:
    from ..functions.similarity import duckdb_cosine_topk

    from .registry import _REGISTRY

    lex = _REGISTRY["bm25_search_topk"].oracle
    sem = duckdb_cosine_topk(
        "embeddings", k=_RRF_K, query_where=f"vec_id = {_RRF_QID}"
    )
    score = duck_fround(
        f"coalesce(1.0 / ({_RRF_C} + lr), 0.0)"
        f" + coalesce(1.0 / ({_RRF_C} + sr), 0.0)",
        9,
    )
    return f"""
        WITH lex AS (SELECT doc_id, rank AS lr FROM ({lex})),
        sem AS (SELECT n_id AS doc_id, rank AS sr FROM ({sem})),
        fused AS (
            SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                   CAST(coalesce(lr, -1) AS BIGINT) AS lex_rank,
                   CAST(coalesce(sr, -1) AS BIGINT) AS sem_rank,
                   {score} AS rrf_score
            FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        )
        SELECT doc_id, lex_rank, sem_rank, rrf_score,
               CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                    AS BIGINT) AS rrf_rank
        FROM fused
    """


@register(
    "hybrid_rrf_search",
    oracle=_rrf_oracle(),
    ref="hybrid lexical+semantic retrieval via reciprocal-rank fusion "
    "(Cormack et al. 2009, the standard BM25 x dense fusion of a RAG / "
    "data-selection stack): the bm25_search_topk list (shared frame — rule "
    "inputs cannot drift from the audited entry) is fused with the cosine "
    f"top-{_RRF_K} of query vec {_RRF_QID} by sum(1/({_RRF_C}+rank)), "
    "absent-list docs contribute 0, ranks re-assigned on the fused score. "
    "100 TB posture: each list is an independently-governed top-k (BM25 = "
    "scan-side term filter + TakeOrdered; cosine = the documented ANN "
    "surface — swap in ivf_topk at scale); the fusion itself joins two "
    "k-row frames — driver-side small, broadcast by construction, never a "
    "corpus-sized shuffle. Score arithmetic is two exact divisions summed "
    "in fixed order, so both engines agree to the bit",
)
def hybrid_rrf_search(spark, sf_dir):
    from ..functions.similarity import cosine_topk_vectorized

    lex = bm25_search_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lr")
    )
    sem = cosine_topk_vectorized(
        T(spark, sf_dir, "embeddings"),
        k=_RRF_K,
        query_filter=F.col("id") == _RRF_QID,
    ).select(F.col("n_id").alias("doc_id"), F.col("rank").alias("sr"))
    return rrf_fuse(lex, sem)


def rrf_fuse(lex, sem, c: int = _RRF_C):
    """Fuse two rank lists — frames of (doc_id, lr) and (doc_id, sr) — by
    reciprocal-rank fusion: score = 1/(c+lr) + 1/(c+sr), a missing list
    contributes 0 (full outer join), absent ranks surface as -1. The in-both
    branch is pinned by a constructed-overlap unit test (the fixture's two
    lists happen to be disjoint at gate SF, so the oracle compare alone
    would leave that branch unexercised)."""
    fused = lex.join(sem, "doc_id", "full_outer")
    score = fround(
        F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("lr")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("sr")), F.lit(0.0)),
        9,
    )
    scored = fused.select(
        "doc_id",
        F.coalesce(F.col("lr"), F.lit(-1)).cast("long").alias("lex_rank"),
        F.coalesce(F.col("sr"), F.lit(-1)).cast("long").alias("sem_rank"),
        score.alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return scored.withColumn("rrf_rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# MaxSim late-interaction retrieval (multi-vector / ColBERT-style scoring)
# ---------------------------------------------------------------------------

# The 64-dim fixture embedding is treated as _MS_SUB=4 "token vectors" of 16
# dims each (the multi-vector layout a late-interaction index stores per
# document). score(q, d) = sum_i max_j cos(q_i, d_j) — each query token takes
# its best-matching document token (Khattab & Zaharia 2020, ColBERT eq. 3).
_MS_QID = 42
_MS_SUB = 4
_MS_DIM = 64
_MS_K = 10
_MS_SUBDIM = _MS_DIM // _MS_SUB


def _maxsim_oracle() -> str:
    qcols = ", ".join(
        f"list_slice(qv, {i * _MS_SUBDIM + 1}, {(i + 1) * _MS_SUBDIM}) AS q{i}, "
        f"list_dot_product(list_slice(qv, {i * _MS_SUBDIM + 1}, {(i + 1) * _MS_SUBDIM}),"
        f" list_slice(qv, {i * _MS_SUBDIM + 1}, {(i + 1) * _MS_SUBDIM})) AS qn{i}"
        for i in range(_MS_SUB)
    )
    dcols = ", ".join(
        f"list_slice(dv, {j * _MS_SUBDIM + 1}, {(j + 1) * _MS_SUBDIM}) AS d{j}, "
        f"list_dot_product(list_slice(dv, {j * _MS_SUBDIM + 1}, {(j + 1) * _MS_SUBDIM}),"
        f" list_slice(dv, {j * _MS_SUBDIM + 1}, {(j + 1) * _MS_SUBDIM})) AS nn{j}"
        for j in range(_MS_SUB)
    )
    m = [
        "greatest("
        + ", ".join(
            duck_fround(f"list_dot_product(q{i}, d{j}) / sqrt(qn{i} * nn{j})", 6)
            for j in range(_MS_SUB)
        )
        + ")"
        for i in range(_MS_SUB)
    ]
    total = m[0]
    for t in m[1:]:
        total = f"({total} + {t})"
    return f"""
        WITH q AS (
            SELECT {qcols}
            FROM (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
                  FROM embeddings WHERE vec_id = {_MS_QID})
        ),
        d AS (
            SELECT vec_id, {dcols}
            FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS dv
                  FROM embeddings WHERE vec_id <> {_MS_QID})
        ),
        scored AS (
            SELECT vec_id AS n_id, {duck_fround(total, 6)} AS maxsim
            FROM d CROSS JOIN q
        )
        SELECT n_id, maxsim, rank FROM (
            SELECT n_id, maxsim,
                   CAST(row_number() OVER (ORDER BY maxsim DESC, n_id)
                        AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= {_MS_K}
    """


@register(
    "maxsim_multivector_topk",
    oracle=_maxsim_oracle(),
    ref="late-interaction (MaxSim) retrieval over multi-vector embeddings "
    "(Khattab & Zaharia 2020): the fixture's 64-dim embedding is stored as "
    f"{_MS_SUB} sub-vectors per document, score = sum over query sub-vectors "
    "of the max cosine against any document sub-vector — each query token "
    "picks its best document token, the scoring rule dense-retrieval "
    "rerankers use where a single pooled vector loses token-level signal. "
    "100 TB posture: the query's sub-vectors are a collected 1-row literal "
    "(closed over, broadcast by construction); per-document scoring is one "
    "map-side projection over the embedding scan — zero shuffles before the "
    "distributed TakeOrdered top-k; at corpus scale the same expression runs "
    "after an IVF bucket prune (ivf_topk_search) exactly like the "
    "single-vector path. Every sub-pair cosine is rounded identically in "
    "both engines before max/sum, so rank order is bit-portable. Both "
    "engines' expressions are generated from ONE loop (this module) — the "
    "sub-vector layout cannot drift",
)
def maxsim_multivector_topk(spark, sf_dir):
    from ..functions.similarity import as_double

    emb = T(spark, sf_dir, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") == _MS_QID)
        .select(as_double(F.col("embedding")).alias("qv"))
        .collect()
    )
    if not q_rows:  # no query vector: the oracle's cross join is empty too
        return spark.createDataFrame([], "n_id long, maxsim double, rank long")
    qvec = q_rows[0]["qv"]
    d = emb.filter(F.col("vec_id") != _MS_QID).select(
        F.col("vec_id").alias("n_id"), as_double(F.col("embedding")).alias("dv")
    )
    scored = maxsim_scored_vectorized(d, qvec)
    topk = scored.orderBy(F.col("maxsim").desc(), F.col("n_id")).limit(_MS_K)
    w = Window.orderBy(F.col("maxsim").desc(), F.col("n_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def maxsim_scored(d, qvec):
    """MaxSim score for every row of ``d`` — (n_id, dv: array<double> of
    _MS_DIM) — against the collected query vector ``qvec``: the sum over the
    query's _MS_SUB sub-vectors of the max rounded cosine against any
    document sub-vector. Pure map-side projection (the query is a closed-over
    literal); identical sub-pair rounding to the DuckDB twin."""
    from ..functions.similarity import dot

    qsubs = [
        F.array(
            *[
                F.lit(float(v))
                for v in qvec[i * _MS_SUBDIM : (i + 1) * _MS_SUBDIM]
            ]
        )
        for i in range(_MS_SUB)
    ]
    dsubs = [
        F.slice(F.col("dv"), j * _MS_SUBDIM + 1, _MS_SUBDIM)
        for j in range(_MS_SUB)
    ]
    qn = [dot(qsubs[i], qsubs[i]) for i in range(_MS_SUB)]
    nn = [dot(dsubs[j], dsubs[j]) for j in range(_MS_SUB)]
    m = [
        F.greatest(
            *[
                fround(dot(qsubs[i], dsubs[j]) / F.sqrt(qn[i] * nn[j]), 6)
                for j in range(_MS_SUB)
            ]
        )
        for i in range(_MS_SUB)
    ]
    total = m[0]
    for t in m[1:]:
        total = total + t
    return d.select("n_id", fround(total, 6).alias("maxsim"))


def maxsim_scored_vectorized(d, qvec):
    """Bit-identical fast path for :func:`maxsim_scored` (the
    cosine_topk_vectorized pattern): the per-row interpreted higher-order
    fold — _MS_SUB² sub-vector dots per document — is the hot cost; this
    kernel keeps the EXACT same IEEE operation sequence (left fold per
    dimension, floor-round per sub-pair cosine, fixed-order sum of the
    per-query-sub maxima, final floor-round) but evaluates each step across
    the whole Arrow batch with numpy. Equality with the expression fold is
    asserted in tests; the DuckDB oracle covers it end to end."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from ..functions.similarity import fold_dots, fold_norms

    scale = float(10**6)
    # query sub-vectors as rows: the fold's per-element op sequence is that
    # of the engine's dot(qsub, dsub) over the literal array
    Qs = np.array(qvec[:_MS_DIM], dtype=np.float64).reshape(_MS_SUB, _MS_SUBDIM)
    qn = fold_norms(Qs)

    schema = StructType(
        [
            StructField("n_id", LongType(), False),
            StructField("maxsim", DoubleType(), False),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["dv"]), dtype=np.float64)
            ids = pdf["n_id"].to_numpy(dtype=np.int64)
            # best[:, i]: max over document sub-vectors j (in order) of the
            # rounded cosine against query sub-vector i
            best = None
            for j in range(_MS_SUB):
                Vj = V[:, j * _MS_SUBDIM : (j + 1) * _MS_SUBDIM]
                c = fold_dots(Vj, Qs) / np.sqrt(np.outer(fold_norms(Vj), qn))
                c = np.floor(c * scale + 0.5) / scale  # fround
                best = c if best is None else np.maximum(best, c)
            total = best[:, 0]
            for i in range(1, _MS_SUB):
                total = total + best[:, i]
            total = np.floor(total * scale + 0.5) / scale
            yield pd.DataFrame({"n_id": ids, "maxsim": total})

    return d.mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# Margin-based bitext mining (Artetxe & Schwenk 2019)
# ---------------------------------------------------------------------------

# The fixture's embedding `label` stands in for the language id: side A =
# label 0, side B = label 1. k = neighborhood size for the margin
# normalizer; top _BT_N pairs reported.
_BT_A, _BT_B = 0, 1
_BT_K = 4
_BT_N = 20


_BT_V = "list_transform(embedding, x -> x::DOUBLE)"
_BT_COS_E6 = (
    "CAST(floor((list_dot_product(a.v, b.v)"
    " / sqrt(a.n2 * b.n2)) * 1000000 + 0.5) AS BIGINT)"
)


def _bitext_margin_sql_tail() -> str:
    """The margin + top-N SQL tail shared by the uncapped and the
    IVF-capped oracle: expects a ``p`` CTE of (a_id, b_id, cos_e6)."""
    return f"""
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY a_id
                                      ORDER BY cos_e6 DESC, b_id) AS ra,
                   row_number() OVER (PARTITION BY b_id
                                      ORDER BY cos_e6 DESC, a_id) AS rb
            FROM p
        ),
        s AS (
            SELECT *,
                   sum(CASE WHEN ra <= {_BT_K} THEN cos_e6 ELSE 0 END)
                       OVER (PARTITION BY a_id) AS sum_ka,
                   sum(CASE WHEN rb <= {_BT_K} THEN cos_e6 ELSE 0 END)
                       OVER (PARTITION BY b_id) AS sum_kb
            FROM r
        ),
        m AS (
            SELECT a_id, b_id, cos_e6,
                   {duck_fround(f'(2.0 * {_BT_K} * cos_e6) / greatest(sum_ka + sum_kb, 1)', 6)}
                       AS margin
            FROM s
        )
        SELECT a_id, b_id, cos_e6, margin, rank FROM (
            SELECT *, CAST(row_number() OVER (
                ORDER BY margin DESC, a_id, b_id) AS BIGINT) AS rank
            FROM m
        ) WHERE rank <= {_BT_N}
    """


def _bitext_oracle() -> str:
    return f"""
        WITH sides AS (
            SELECT vec_id, label, {_BT_V} AS v,
                   list_dot_product({_BT_V}, {_BT_V}) AS n2
            FROM embeddings WHERE label IN ({_BT_A}, {_BT_B})
        ),
        p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id, {_BT_COS_E6} AS cos_e6
            FROM (SELECT * FROM sides WHERE label = {_BT_A}) a
            CROSS JOIN (SELECT * FROM sides WHERE label = {_BT_B}) b
        ),
        {_bitext_margin_sql_tail()}
    """


@register(
    "bitext_margin_mining",
    oracle=_bitext_oracle(),
    ref="margin-based parallel-pair mining (Artetxe & Schwenk 2019, the "
    "LASER/CCMatrix bitext-mining criterion): candidate pairs across two "
    "sides (fixture label 0 x label 1) are scored by cosine NORMALIZED by "
    "the mean of each endpoint's k-NN neighborhood — margin(a,b) = "
    f"2k*cos / (sum of a's top-{_BT_K} + sum of b's top-{_BT_K}) — which "
    "suppresses hub vectors that are close to everything (raw cosine's "
    "failure mode for mining). Engine portability: each pair cosine is "
    "frozen to an exact µ-unit BIGINT before any aggregation, so the "
    "neighborhood sums are order-free integer math and the margin is ONE "
    "double division of exact integers (denominator floored at 1 µ-unit — "
    "an all-negative neighborhood cannot divide by zero). 100 TB posture: "
    "the cross join is the documented brute-force anchor (sides here are "
    "query-batch-sized); at corpus scale both directions run through the "
    "IVF bucket prune (ivf_topk_search) exactly like the kNN family, and "
    "the two rank windows + two neighborhood sums are windows over the "
    "pair id — keyed shuffles, no driver state",
)
def bitext_margin_mining(spark, sf_dir):
    return _bitext_margin_rank(bitext_pairs_vectorized(spark, sf_dir))


def _bitext_margin_rank(p):
    """Margin + top-N over a candidate-pair frame (a_id, b_id, cos_e6) —
    the DataFrame twin of :func:`_bitext_margin_sql_tail`, shared by the
    brute-force and the IVF-capped entry so the scoring math cannot
    drift between them."""
    wa = Window.partitionBy("a_id").orderBy(F.col("cos_e6").desc(), F.col("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.col("cos_e6").desc(), F.col("a_id"))
    r = p.select(
        "a_id", "b_id", "cos_e6",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    s = r.select(
        "a_id", "b_id", "cos_e6",
        F.sum(F.when(F.col("ra") <= _BT_K, F.col("cos_e6")).otherwise(0))
        .over(Window.partitionBy("a_id"))
        .alias("sum_ka"),
        F.sum(F.when(F.col("rb") <= _BT_K, F.col("cos_e6")).otherwise(0))
        .over(Window.partitionBy("b_id"))
        .alias("sum_kb"),
    )
    margin = fround(
        (F.lit(2.0) * _BT_K * F.col("cos_e6"))
        / F.greatest(F.col("sum_ka") + F.col("sum_kb"), F.lit(1)),
        6,
    )
    m = s.select("a_id", "b_id", "cos_e6", margin.alias("margin"))
    topn = m.orderBy(
        F.col("margin").desc(), F.col("a_id"), F.col("b_id")
    ).limit(_BT_N)
    w = Window.orderBy(F.col("margin").desc(), F.col("a_id"), F.col("b_id"))
    return topn.withColumn("rank", F.row_number().over(w).cast("long"))


def _bitext_pairs_expr(spark, sf_dir):
    """Expression-fold reference for :func:`bitext_pairs_vectorized` — kept
    for the bit-equality pin (tests), not used by the entry."""
    from ..functions.similarity import as_double, dot

    emb = T(spark, sf_dir, "embeddings").filter(
        F.col("label").isin(_BT_A, _BT_B)
    )
    base = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("n2", dot(F.col("v"), F.col("v")))
    a = base.filter(F.col("label") == _BT_A).select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("n2").alias("an"),
    )
    b = base.filter(F.col("label") == _BT_B).select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv"),
        F.col("n2").alias("bn"),
    )
    cos_e6 = (
        F.floor(
            (dot(F.col("av"), F.col("bv")) / F.sqrt(F.col("an") * F.col("bn")))
            * 1_000_000
            + F.lit(0.5)
        )
    ).cast("long")
    return F.broadcast(a).crossJoin(b).select(
        "a_id", "b_id", cos_e6.alias("cos_e6")
    )


def bitext_pairs_vectorized(spark, sf_dir):
    """(a_id, b_id, cos_e6) for every cross-side pair — the µ-unit-frozen
    cosine computed by a numpy mapInPandas kernel with the EXACT IEEE op
    sequence of the expression formulation (left fold per dimension, then
    floor(c*1e6 + 0.5)), the cosine_topk_vectorized / maxsim pattern: side
    A (the query-batch side) is collected and closed over, side B streams.
    Bit-equality with the expression cross join is asserted in tests."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions.similarity import as_double, fold_dots, fold_norms

    emb = T(spark, sf_dir, "embeddings")
    a_rows = (
        emb.filter(F.col("label") == _BT_A)
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .collect()
    )
    a_ids = np.array([r["vec_id"] for r in a_rows], dtype=np.int64)
    a_vecs = np.array([r["v"] for r in a_rows], dtype=np.float64)
    schema = StructType(
        [
            StructField("a_id", LongType(), False),
            StructField("b_id", LongType(), False),
            StructField("cos_e6", LongType(), False),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["v"]), dtype=np.float64)
            b_ids = pdf["b_id"].to_numpy(dtype=np.int64)
            # shaped where d is known: an empty side A is (0, d)
            A = a_vecs.reshape(len(a_ids), V.shape[1])
            denom = np.outer(fold_norms(V), fold_norms(A))
            cos = fold_dots(V, A) / np.sqrt(denom)  # |B|x|A|
            c6 = np.floor(cos * 1_000_000 + 0.5).astype(np.int64)
            na, nb = len(a_ids), len(b_ids)
            yield pd.DataFrame(
                {
                    "a_id": np.tile(a_ids, nb),
                    "b_id": np.repeat(b_ids, na),
                    "cos_e6": c6.reshape(-1),
                }
            )

    from ..session import ensure_parallelism

    # spread the streaming side before the kernel: a one-row-group fixture
    # scan otherwise runs the whole |B|x|A| batch on 1-2 cores (the label
    # filter is a plain scan column, so it pushes to parquet BELOW the
    # round-robin — the benign direction)
    b = ensure_parallelism(
        emb.filter(F.col("label") == _BT_B).select(
            F.col("vec_id").alias("b_id"),
            as_double(F.col("embedding")).alias("v"),
        )
    )
    return b.mapInPandas(kernel, schema=schema)


# IVF-capped bitext config: centroids over the two sides' union, side A
# probes _BTC_NPROBE buckets (the recall dial), side B indexes under its
# primary bucket, and each side's per-bucket membership is truncated to the
# first _BTC_CAP ids — pairs are mined within buckets only, so the pair
# count is bounded by NC * NPROBE * CAP^2 regardless of corpus size.
# Measured recall curve on the fixture (true top-20 pairs present in the
# candidate set / top-20 overlap, sf0.001 & sf0.01): nprobe=2 → 8/20 & 5/20
# at 13% of pairs; nprobe=3 → 11/20 & 9/20 at 19%; nprobe=4 → 12/20 & 11/20
# at 25%. The synthetic embeddings are near-uniform (weak cluster
# structure), so recall saturates slowly with nprobe — real multilingual
# encoder spaces cluster by topic/language and fare better. nprobe=3 is the
# shipped balance; the brute-force entry is the recall anchor.
_BTC_NC = 16
_BTC_NPROBE = 3
_BTC_CAP = 512


def _bitext_capped_oracle() -> str:
    assign_cos = duck_fround(
        "list_dot_product(s.v, cv) / sqrt(s.n2 * cn)", 6
    )
    return f"""
        WITH sides AS (
            SELECT vec_id, label, {_BT_V} AS v,
                   list_dot_product({_BT_V}, {_BT_V}) AS n2
            FROM embeddings WHERE label IN ({_BT_A}, {_BT_B})
        ),
        cents AS (
            SELECT vec_id AS c_id, v AS cv, n2 AS cn
            FROM sides ORDER BY vec_id LIMIT {_BTC_NC}
        ),
        probes AS (
            SELECT vec_id, bucket, probe FROM (
                SELECT s.vec_id, c_id AS bucket,
                       row_number() OVER (
                           PARTITION BY s.vec_id
                           ORDER BY {assign_cos} DESC, c_id) AS probe
                FROM sides s CROSS JOIN cents
            ) WHERE probe <= {_BTC_NPROBE}
        ),
        a AS (
            SELECT a_id, bucket, v, n2 FROM (
                SELECT s.vec_id AS a_id, bucket, v, n2,
                       row_number() OVER (
                           PARTITION BY bucket ORDER BY s.vec_id) AS rn
                FROM sides s JOIN probes USING (vec_id)
                WHERE s.label = {_BT_A}
            ) WHERE rn <= {_BTC_CAP}
        ),
        b AS (
            SELECT b_id, bucket, v, n2 FROM (
                SELECT s.vec_id AS b_id, bucket, v, n2,
                       row_number() OVER (
                           PARTITION BY bucket ORDER BY s.vec_id) AS rn
                FROM sides s JOIN probes USING (vec_id)
                WHERE s.label = {_BT_B} AND probes.probe = 1
            ) WHERE rn <= {_BTC_CAP}
        ),
        p AS (
            SELECT a_id, b_id, {_BT_COS_E6} AS cos_e6
            FROM a JOIN b USING (bucket)
        ),
        {_bitext_margin_sql_tail()}
    """


@register(
    "bitext_margin_mining_capped",
    oracle=_bitext_capped_oracle(),
    ref="the SCALE-SAFE twin of bitext_margin_mining (Artetxe & Schwenk "
    "2019 margins, unchanged scoring math via the shared "
    "_bitext_margin_rank stage): instead of the brute-force cross join, "
    f"candidate pairs come from an IVF coarse quantizer — {_BTC_NC} "
    "centroids seeded deterministically over the two sides' union "
    f"(ivf_probes machinery), side A probing its {_BTC_NPROBE} closest "
    "buckets (the standard IVF recall dial), side B indexed under its "
    "primary bucket, and each side's per-bucket membership truncated to "
    f"the first {_BTC_CAP} ids (deterministic cap; a hub cluster cannot "
    "blow the pair count past NC*NPROBE*CAP^2). Neighborhood sums for the "
    "margin normalizer run over the CANDIDATE pair set — the standard "
    "mined-bitext approximation; the brute-force entry is the documented "
    "recall anchor. Pair cosines come from a cogrouped numpy kernel: both "
    "sides shuffle ONCE keyed by bucket (corpus-sized, never pair-sized) "
    "and each bucket's |A_b| x |B_b| cosine block is one vectorized matrix "
    "product with the expression fold's exact IEEE op sequence "
    "(the shared similarity.fold_dots — bit-equal to DuckDB's "
    "list_dot_product, pinned by the uncapped kernel's equality test), "
    "frozen to µ-unit BIGINTs "
    "before the margin windows",
)
def bitext_margin_mining_capped(spark, sf_dir):
    return _bitext_margin_rank(bitext_pairs_ivf_capped(spark, sf_dir))


def bitext_pairs_ivf_capped(spark, sf_dir):
    """(a_id, b_id, cos_e6) for IVF-co-bucketed cross-side pairs, capped
    per bucket per side — the candidate generator of
    :func:`bitext_margin_mining_capped`."""
    import numpy as np
    import pandas as pd

    from ..functions.similarity import as_double, fold_dots, fold_norms, ivf_probes

    emb = T(spark, sf_dir, "embeddings").filter(
        F.col("label").isin(_BT_A, _BT_B)
    )
    probes = ivf_probes(
        emb, num_centroids=_BTC_NC, nprobe=_BTC_NPROBE
    ).select("vec_id", F.col("centroid_id").alias("bucket"), "probe")
    base = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    cap_w = Window.partitionBy("bucket").orderBy("vec_id")
    a_side = (
        base.filter(F.col("label") == _BT_A)
        .join(probes, "vec_id")
        .withColumn("rn", F.row_number().over(cap_w))
        .filter(F.col("rn") <= _BTC_CAP)
        .select(F.col("vec_id").alias("a_id"), "bucket", "v")
    )
    # distinct column names on the B side: both sides share the base/probes
    # lineage and Spark's ambiguous-self-join check rejects a cogroup over
    # same-id columns
    b_side = (
        base.filter(F.col("label") == _BT_B)
        .join(probes.filter(F.col("probe") == 1), "vec_id")
        .withColumn("rn", F.row_number().over(cap_w))
        .filter(F.col("rn") <= _BTC_CAP)
        .select(
            F.col("vec_id").alias("b_id"),
            F.col("bucket").alias("b_bucket"),
            F.col("v").alias("bv"),
        )
    )

    def block(key, adf, bdf):
        if not len(adf) or not len(bdf):
            return pd.DataFrame(
                {
                    "a_id": pd.Series(dtype="int64"),
                    "b_id": pd.Series(dtype="int64"),
                    "cos_e6": pd.Series(dtype="int64"),
                }
            )
        a_ids = adf["a_id"].to_numpy(dtype=np.int64)
        b_ids = bdf["b_id"].to_numpy(dtype=np.int64)
        A = np.array(list(adf["v"]), dtype=np.float64)
        B = np.array(list(bdf["bv"]), dtype=np.float64)
        denom = np.outer(fold_norms(B), fold_norms(A))
        cos = fold_dots(B, A) / np.sqrt(denom)  # |B|x|A|
        c6 = np.floor(cos * 1_000_000 + 0.5).astype(np.int64)
        na, nb = len(a_ids), len(b_ids)
        return pd.DataFrame(
            {
                "a_id": np.tile(a_ids, nb),
                "b_id": np.repeat(b_ids, na),
                "cos_e6": c6.reshape(-1),
            }
        )

    return (
        a_side.groupBy("bucket")
        .cogroup(b_side.groupBy("b_bucket"))
        .applyInPandas(block, "a_id long, b_id long, cos_e6 long")
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback (RM3-style two-pass BM25)
# ---------------------------------------------------------------------------

# expansion config: top _PRF_E terms by total tf within the top-_BT... the
# pass-1 feedback set (the bm25_search_topk top-10), query terms excluded,
# corpus df capped (stopword guard). Original terms weigh 2, expansion
# terms weigh 1 (the RM3 interpolation expressed in exact integers).
_PRF_E = 5
_PRF_DF_CAP = 64
_PRF_W_ORIG, _PRF_W_EXP = 2, 1
_PRF_TOPK = 10


def _prf_oracle() -> str:
    from .registry import _REGISTRY

    lex = _REGISTRY["bm25_search_topk"].oracle
    qlist = ", ".join(f"'{t}'" for t in _BM25_QUERY)
    s_e6 = (
        "CAST(floor(("
        "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
        f" * tf * ({_BM25_K1} + 1.0)"
        f" / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        ") * 1000000 + 0.5) AS BIGINT)"
    )
    return f"""
        WITH fb AS (SELECT doc_id FROM ({lex})),
        d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        dl AS (SELECT doc_id, len(toks) AS dl FROM d),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        tf_all AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM d)
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf_all GROUP BY term),
        exp_terms AS (
            SELECT term FROM (
                SELECT t.term, sum(t.tf) AS fb_tf
                FROM tf_all t
                JOIN fb USING (doc_id)
                JOIN dfreq USING (term)
                WHERE t.term NOT IN ({qlist}) AND df <= {_PRF_DF_CAP}
                GROUP BY t.term
                ORDER BY fb_tf DESC, t.term
                LIMIT {_PRF_E}
            )
        ),
        terms AS (
            SELECT unnest([{qlist}]) AS term, {_PRF_W_ORIG} AS w
            UNION ALL SELECT term, {_PRF_W_EXP} AS w FROM exp_terms
        ),
        scored AS (
            SELECT tf_all.doc_id,
                   CAST(sum({s_e6} * w) AS BIGINT) AS score_e6
            FROM tf_all
            JOIN terms USING (term)
            JOIN dfreq USING (term)
            JOIN dl ON dl.doc_id = tf_all.doc_id
            CROSS JOIN stats
            GROUP BY tf_all.doc_id
        )
        SELECT doc_id, score_e6, rank FROM (
            SELECT doc_id, score_e6,
                   CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id)
                        AS BIGINT) AS rank
            FROM scored
        ) WHERE rank <= {_PRF_TOPK}
    """


def _cand_tf_kernel(d, cand_list):
    """(doc_id, term, tf) for candidate terms only, counted map-side.

    Exactly the rows of ``explode(toks) ⋈ candidates → groupBy(doc, term)
    count`` — each document is ONE row of ``d`` (the per-doc token-array
    frame), so a per-document count inside the kernel is already final; the
    explode, the broadcast probe of every token, and the corpus-wide hash
    aggregation disappear (r12, guide §4.2). ``cand_list`` must be a small
    in-memory list (feedback vocabulary + query terms)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cand_arr = pa.array(list(cand_list), type=pa.string())
    n_terms = len(cand_list)
    cand_np = np.asarray(cand_list, dtype=object)

    def kernel(batches):
        for rb in batches:
            doc_ids = rb.column(0).to_numpy(zero_copy_only=False)
            toks = rb.column(1)
            if toks.null_count:
                toks = pc.fill_null(toks, [])
            lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
            flat = pc.list_flatten(toks)
            ti = pc.fill_null(
                pc.index_in(flat, value_set=cand_arr), -1
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            doc_pos = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            sel = ti >= 0
            if not sel.any():
                continue
            keys, counts = np.unique(
                doc_pos[sel] * n_terms + ti[sel], return_counts=True
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[keys // n_terms], type=pa.int64()),
                    pa.array(cand_np[keys % n_terms], type=pa.string()),
                    pa.array(counts.astype(np.int64), type=pa.int64()),
                ],
                names=["doc_id", "term", "tf"],
            )

    return d.select("doc_id", "toks").mapInArrow(
        kernel, schema="doc_id long, term string, tf long"
    )


@register(
    "prf_rm3_search",
    oracle=_prf_oracle(),
    ref="pseudo-relevance feedback retrieval (the RM3 / Rocchio two-pass "
    "pattern, Abdul-Jaleel et al. 2004): pass 1 is the audited "
    "bm25_search_topk list (shared frame); its top-10 documents vote the "
    f"top {_PRF_E} non-query terms (corpus df <= {_PRF_DF_CAP} stopword "
    "guard, ties by term) into an expanded query; pass 2 re-scores with "
    f"original terms weighted {_PRF_W_ORIG} and expansion terms "
    f"{_PRF_W_EXP}. Engine portability one step beyond the bm25 entry: "
    "every per-(doc, term) BM25 contribution is FROZEN to a µ-unit BIGINT "
    "before weighting, so the weighted document score is an order-free "
    "integer sum — no float fold order anywhere in pass 2. 100 TB "
    "posture: one regex tokenize feeds the whole two-pass plan (the shared "
    "persisted token-array frame, bm25_doc_toks); the feedback-term "
    "election explodes only the 10 feedback documents' arrays; pass 2's "
    "(doc, term) counts come from ONE map-side Arrow kernel pass over the "
    "persisted token arrays against the collected candidate-term list "
    "(feedback vocabulary + query terms — tiny by construction), so the "
    "corpus is never exploded and nothing vocabulary-sized ever shuffles; "
    "df, the stopword guard, and pass-2 scoring all read that one "
    "candidate-restricted frame; dl/corpus stats are the same 1-row "
    "broadcast frames as bm25_search_topk; final top-k is a TakeOrdered.",
)
def prf_rm3_search(spark, sf_dir):
    d = bm25_doc_toks(spark, sf_dir)
    fb = bm25_search_topk(spark, sf_dir, toks=d).select("doc_id")
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    # feedback-term election input: explode ONLY the 10 feedback docs.
    # Persisted (r11, guide §5): fb_tf's lineage contains the whole BM25
    # pass 1, and it has TWO consumers in separate actions — the candidate
    # term collect below (which is also its populate job) and exp_terms in
    # the final query — so without the persist pass 1's corpus explode ran
    # twice per invocation (stage isolation at sf10: the cand_terms branch
    # alone re-paid 4.2 s; interleaved A/B mean 18.9 -> 14.6 s). The frame
    # is feedback-vocabulary-sized (tiny).
    fb_tf, fb_terms = owned_persist(
        d.join(F.broadcast(fb), "doc_id")
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("fb_tf")),
        lambda f: f.select("term").collect(),
    )
    # candidate list = feedback vocabulary + query terms. r12 (VERDICT item
    # 4, guide §4.2): pass 2's (doc, term) aggregation no longer explodes
    # the corpus — the r11 shape exploded all ~27M sf10 tokens, probed each
    # against the broadcast candidate list and hash-aggregated the matches
    # (the measured dominant stage, ~12 s of 14.6). The candidate list is
    # collected (it is feedback-vocabulary-sized by construction: ≤ the
    # distinct terms of 10 documents + the query) and an Arrow kernel
    # counts candidate hits per document in one pass over the PERSISTED
    # token-array frame: flatten (zero-copy) → index_in against the
    # candidate set → one np.unique over (doc position, term index). Each
    # document is one row of d, so per-batch counts are FINAL — no shuffle,
    # no explode, exact integer tf identical to the join+groupBy.
    cand_list = sorted({r["term"] for r in fb_terms} | set(_BM25_QUERY))
    cand_tf, _ = owned_persist(_cand_tf_kernel(d, cand_list))
    dfreq = cand_tf.groupBy("term").agg(F.count("*").alias("df"))
    exp_terms = (
        fb_tf.filter(~F.col("term").isin(*_BM25_QUERY))
        .join(F.broadcast(dfreq.filter(F.col("df") <= _PRF_DF_CAP)), "term")
        .orderBy(F.col("fb_tf").desc(), F.col("term"))
        .limit(_PRF_E)
        .select("term", F.lit(_PRF_W_EXP).alias("w"))
    )
    orig_terms = spark.createDataFrame(
        [(t, _PRF_W_ORIG) for t in _BM25_QUERY], "term string, w int"
    )
    terms = orig_terms.unionAll(exp_terms)
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_score = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    s_e6 = F.floor(term_score * 1_000_000 + F.lit(0.5)).cast("long")
    scored = (
        cand_tf.join(F.broadcast(terms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(s_e6 * F.col("w")).cast("long").alias("score_e6"))
    )
    topk = scored.orderBy(
        F.col("score_e6").desc(), F.col("doc_id")
    ).limit(_PRF_TOPK)
    w = Window.orderBy(F.col("score_e6").desc(), F.col("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))
