"""Dedup + similarity-search inventory queries (LLM-pipeline operators).

Spark builder and DuckDB oracle are generated from the same parameters by the
functions.dedup / functions.similarity codegen twins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.dedup import (
    connected_components,
    duck_md5_long,
    duck_normalized_fp,
    duckdb_connected_components,
    duckdb_exact_dedup,
    duckdb_exact_substring,
    duckdb_exact_substring_cut,
    duckdb_minhash_lsh,
    duckdb_ngram_jaccard,
    duckdb_simhash32,
    exact_dedup_groups,
    exact_substring_cut,
    exact_substring_spans,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash32,
)
from ..functions.similarity import (
    cosine_near_dup,
    cosine_near_dup_lsh,
    cosine_topk,
    cosine_topk_vectorized,
    duckdb_cosine_near_dup,
    duckdb_cosine_near_dup_lsh,
    duckdb_cosine_topk,
    duckdb_ivf_assign,
    duckdb_ivf_topk,
    ivf_assign,
    ivf_topk,
)
from ..session import owned_persist
from ..session import table as T
from .registry import register

_NGRAM = dict(n=3, threshold=0.4)
_MINHASH = dict(n=3, num_hashes=16, rows_per_band=4, threshold=0.4)
_KNN = dict(k=5, round_digits=6)
_NEARDUP = dict(threshold=0.35, round_digits=6)
_IVF = dict(num_centroids=8, round_digits=6)


@register(
    "dedup_exact",
    oracle=duckdb_exact_dedup("documents"),
    ref="exact dedup: hash-groupBy on normalized-text fingerprint (distinct idiom, SURVEY §2.8)",
)
def dedup_exact(spark, sf_dir):
    return exact_dedup_groups(T(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    oracle=duckdb_ngram_jaccard("documents", **_NGRAM),
    ref="n-gram Jaccard near-dup pairs (shingle join + set-overlap)",
)
def dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(T(spark, sf_dir, "documents"), **_NGRAM)


@register(
    "dedup_ngram_jaccard_capped",
    oracle=duckdb_ngram_jaccard("documents", **_NGRAM, max_df=4),
    ref="the 100 TB configuration of the shingle-join Jaccard: max_df drops "
    "shingles appearing in > 4 docs before pairing (rare-shingle candidate "
    "generation — the standard corpus-scale cap; set sizes recomputed over "
    "the capped universe on BOTH engines). Why it exists: the raw shingle "
    "self-join is quadratic in per-shingle document frequency — at the sf10 "
    "fixture 27k boilerplate shingles out of 5.6M carry 8.89B intermediate "
    "pairs (the uncapped twin times out there), while the cap keeps ~6.4k. "
    "Dropped volume observable via cap_counter(diag) (LSH bucket-cap pattern)",
)
def dedup_ngram_jaccard_capped(spark, sf_dir):
    return ngram_jaccard_pairs(T(spark, sf_dir, "documents"), **_NGRAM, max_df=4)


_SUBSTR = dict(k=8)


@register(
    "dedup_exact_substring",
    oracle=duckdb_exact_substring("documents", **_SUBSTR),
    ref="exact-substring dedup (Lee et al. 2022 ExactSubstr): maximal verbatim "
    "token runs >= 8 tokens shared between doc pairs, WITH positions so the "
    "duplicated text can be cut — the span-emitting complement to "
    "dedup_substring_spans' per-doc fraction metric. Suffix-array semantics "
    "re-expressed as a positional k-gram anchor join + diagonal island merge "
    "(functions/dedup.py exact_substring_spans) — no global suffix sort. "
    "UNCAPPED recall anchor by contract; production runs the capped twin",
)
def dedup_exact_substring(spark, sf_dir):
    return exact_substring_spans(T(spark, sf_dir, "documents"), **_SUBSTR)


@register(
    "dedup_exact_substring_capped",
    oracle=duckdb_exact_substring("documents", **_SUBSTR, max_occ=2),
    ref="the 100 TB configuration of dedup_exact_substring: grams occurring "
    "> max_occ times in the corpus are dropped before the positional "
    "self-join. OCCURRENCE cap, not document-frequency cap: the join is "
    "quadratic in per-gram occurrences (a boilerplate line repeated m times "
    "contributes m^2 anchors even inside one doc pair), so the cap bounds "
    "every gram's fan-out to max_occ^2 regardless of skew. Cap=2 is "
    "deliberately tight so the rule demonstrably fires at gate SF (sf0.01 "
    "has 71 occ-3 grams, max occ 3); production calibrates it to the "
    "corpus (SCALE.md). The cap CHANGES the answer (spans "
    "whose every gram is ubiquitous disappear; a dropped middle gram can "
    "split a long span in two), so the oracle reproduces the drop rule "
    "exactly; dropped grams/rows observable via cap_counter(diag)",
)
def dedup_exact_substring_capped(spark, sf_dir):
    return exact_substring_spans(T(spark, sf_dir, "documents"), **_SUBSTR, max_occ=2)


@register(
    "dedup_exact_substring_cut",
    oracle=duckdb_exact_substring_cut("documents", **_SUBSTR),
    ref="the REMEDIATION half of ExactSubstr (Lee et al. 2022 §3: remove the "
    "duplicate, keep one occurrence): every doc_b span range is cut, doc_a's "
    "copy survives (keep-lowest-id, the suite's standard rule), overlapping "
    "ranges merge through the running-max interval-union window before "
    "counting, and each document's surviving tokens reassemble in-row "
    "(bounded interval list per doc — a higher-order filter, never a "
    "per-token join). Every document is emitted — cut_tokens 0 for the "
    "untouched ones; kept_md5 pins the rewritten text on both engines. "
    "Completes the family: spans = the evidence, cut = the deliverable "
    "(functions/dedup.py exact_substring_cut)",
)
def dedup_exact_substring_cut(spark, sf_dir):
    return exact_substring_cut(T(spark, sf_dir, "documents"), **_SUBSTR)


@register(
    "dedup_exact_substring_cut_capped",
    oracle=duckdb_exact_substring_cut("documents", **_SUBSTR, max_occ=2),
    ref="the 100 TB configuration of the cut: spans come from the occ-capped "
    "anchor join (dedup_exact_substring_capped's governance rule, same "
    "max_occ), so the rewrite inherits the bounded join — at sf10 the "
    "uncapped cut's oracle grinds past the sweep cap exactly like the "
    "uncapped span oracle. Same cut semantics downstream (interval union, "
    "in-row reassembly); spans the cap dropped are simply not cut, the "
    "governed recall trade-off",
)
def dedup_exact_substring_cut_capped(spark, sf_dir):
    return exact_substring_cut(T(spark, sf_dir, "documents"), **_SUBSTR, max_occ=2)


@register(
    "dedup_minhash_lsh",
    oracle=duckdb_minhash_lsh("documents", **_MINHASH),
    ref="MinHash signatures + banded LSH candidates + Jaccard verify — the scale path",
)
def dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(T(spark, sf_dir, "documents"), **_MINHASH)


@register(
    "dedup_minhash_lsh_capped",
    oracle=duckdb_minhash_lsh("documents", **_MINHASH, max_bucket_size=2),
    ref="the 100 TB CONFIGURATION of dedup_minhash_lsh, itself oracle-gated "
    "(VERDICT r3 item 2): max_bucket_size caps degenerate hot buckets — "
    "boilerplate-heavy corpora co-bucket thousands of ids and pair expansion "
    "over them is k² noise — by DROPPING any bucket with more co-bucketed "
    "ids than the cap before pair expansion (functions/dedup.py "
    "minhash_lsh_pairs). The cap CHANGES the answer (pairs surfaced only "
    "through an oversized bucket disappear), so the DuckDB oracle reproduces "
    "the drop rule exactly; dropped buckets/ids are counted via the "
    "lsh_bucket_cap observation (cap_counter over the caller's diag). Cap=2 "
    "is deliberately tight so the rule demonstrably fires at gate SF (sf0.01 "
    "has size-3 buckets)",
)
def dedup_minhash_lsh_capped(spark, sf_dir):
    return minhash_lsh_pairs(
        T(spark, sf_dir, "documents"), **_MINHASH, max_bucket_size=2
    )


@register(
    "dedup_simhash",
    oracle=duckdb_simhash32("documents"),
    ref="32-bit SimHash per document over distinct tokens",
)
def dedup_simhash(spark, sf_dir):
    return simhash32(T(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_hamming",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.dedup",
        fromlist=["duckdb_simhash_hamming_pairs"],
    ).duckdb_simhash_hamming_pairs(
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)", radius=3
    ),
    ref="SATURATION-DEMO posture (VERDICT r6 item 5): SimHash pair search "
    "within Hamming radius 3 over the 32-bit fingerprint — the banded "
    "pigeonhole construction (radius+1 exact-match bands, streaming "
    "equi-self-join, bit_count(xor) verify). A 32-bit fingerprint drowns in "
    "random collisions past ~100k docs (E[pairs within r=3] = "
    "C(n,2)*5489/2^32 — the r4 sf1 sweep measured a 24.35M-pair, ~99%-noise "
    "output costing 189 s, output-bound by construction, not by plan): the "
    "63-bit dedup_simhash64_hamming twin is the production config, and this "
    "entry is retained as the documented demonstration of WHY, on a "
    "deterministic 20% fixture slice (doc_id % 5 = 0, identical predicate "
    "in the oracle) so the noise output stays bounded at every sweep SF "
    "while the saturation math remains visible in the pair counts",
)
def dedup_simhash_hamming(spark, sf_dir):
    from ..functions.dedup import simhash_hamming_pairs

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return simhash_hamming_pairs(docs, radius=3)


@register(
    "dedup_simhash64_hamming",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.dedup",
        fromlist=["duckdb_simhash64_hamming_pairs"],
    ).duckdb_simhash64_hamming_pairs("documents", radius=3),
    ref="SCALE twin of dedup_simhash_hamming: 63-bit SimHash (Manku et al. "
    "WWW'07 production config) with 16/16/16/15-bit pigeonhole bands — bucket "
    "population n/2^15 keeps candidates ~linear where 32-bit 8-bit bands go "
    "quadratic past ~100k docs AND the 32-bit fingerprint itself drowns in "
    "~C(n,2)*5489/2^32 random collisions; exact integer bit-slice banding "
    "(shiftright+mask), streaming equi-self-join, bit_count(xor) verify",
)
def dedup_simhash64_hamming(spark, sf_dir):
    from ..functions.dedup import simhash64_hamming_pairs

    return simhash64_hamming_pairs(T(spark, sf_dir, "documents"), radius=3)


@register(
    "dedup_simhash64_hamming_capped",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.dedup",
        fromlist=["duckdb_simhash64_hamming_pairs"],
    ).duckdb_simhash64_hamming_pairs("documents", radius=3, max_bucket_size=64),
    ref="the 100 TB configuration of the simhash64 pair search, same cap "
    "governance as dedup_minhash_lsh_capped: band buckets holding more than "
    "max_bucket_size docs are dropped before the self-join. Why it exists, "
    "measured at the sf10 fixture (500k docs): real documents share "
    "vocabulary, so simhash bits are BIASED and 16-bit band values "
    "mega-collide — the hottest bucket held 48,915 docs and the candidate "
    "join faced 3.497B pairs. The cap bounds per-bucket cost to cap^2 while "
    "genuine near-dup pairs (which agree on some band with few "
    "band-collisions) survive; a dropped boilerplate-band pair still "
    "surfaces through its other three bands or exact dedup. The cap changes "
    "the answer, so the configuration carries its OWN oracle reproducing "
    "the drop rule (kept CTE, HAVING count(*) <= cap)",
)
def dedup_simhash64_hamming_capped(spark, sf_dir):
    from ..functions.dedup import simhash64_hamming_pairs

    return simhash64_hamming_pairs(
        T(spark, sf_dir, "documents"), radius=3, max_bucket_size=64
    )


@register(
    "knn_cosine_topk",
    oracle=duckdb_cosine_topk("embeddings", query_where="vec_id < 100", **_KNN),
    ref="brute-force cosine top-k ANN baseline over array<float> embeddings",
)
def knn_cosine_topk(spark, sf_dir):
    # Vectorized kernel — bit-identical to the cosine_topk expression fold
    # (same IEEE op order; equality asserted in tests/test_operators.py).
    return cosine_topk_vectorized(
        T(spark, sf_dir, "embeddings"), query_filter=F.col("id") < 100, **_KNN
    )


@register(
    "dedup_components",
    oracle=duckdb_connected_components(
        duckdb_ngram_jaccard("documents", **_NGRAM)
    ),
    ref="dedup clustering: connected components over the near-dup pair graph via iterative "
    "min-label propagation — deterministic fixpoint, oracled by a recursive CTE",
)
def dedup_components(spark, sf_dir):
    pairs = ngram_jaccard_pairs(T(spark, sf_dir, "documents"), **_NGRAM)
    return connected_components(pairs)


@register(
    "dedup_components_capped",
    oracle=duckdb_connected_components(
        duckdb_ngram_jaccard("documents", **_NGRAM, max_df=4)
    ),
    ref="the 100 TB posture of the components family: connected components "
    "over the CAPPED near-dup pair graph (dedup_ngram_jaccard_capped's "
    "max_df=4 rare-shingle rule). Why: the uncapped pair graph at the sf10 "
    "fixture carries 12.56M pairs and the label-propagation input stage "
    "GC-stalls on it; the cap bounds pair volume at the generator, so the "
    "iterative fixpoint runs on a graph whose size is governed, not "
    "data-dependent. Same config switch (max_df) feeds dedup_kept_corpus / "
    "dedup_cluster_canonical — the capped graph IS the production input to "
    "all three; the drop rule is oracle-gated end to end",
)
def dedup_components_capped(spark, sf_dir):
    pairs = ngram_jaccard_pairs(T(spark, sf_dir, "documents"), **_NGRAM, max_df=4)
    return connected_components(pairs)


@register(
    "dedup_kept_corpus_capped",
    oracle=f"""
        WITH comp AS ({duckdb_connected_components(duckdb_ngram_jaccard("documents", **_NGRAM, max_df=4))})
        SELECT d.doc_id,
               CASE WHEN comp.component IS NOT NULL THEN comp.component
                    ELSE d.doc_id END AS component,
               (comp.component IS NULL OR comp.component = d.doc_id) AS kept
        FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
    """,
    ref="the dedup pipeline DELIVERABLE on the capped pair graph — the "
    "production configuration at corpus scale (see dedup_components_capped); "
    "downstream training reads WHERE kept exactly as in dedup_kept_corpus",
)
def dedup_kept_corpus_capped(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, **_NGRAM, max_df=4)
    comp = connected_components(pairs)
    joined = d.select("doc_id").join(
        comp.select(F.col("doc_id").alias("c_doc"), "component"),
        F.col("doc_id") == F.col("c_doc"),
        "left",
    )
    component = F.coalesce(F.col("component"), F.col("doc_id"))
    kept = F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
    return joined.select(
        "doc_id", component.alias("component"), kept.alias("kept")
    )


@register(
    "dedup_cluster_canonical_capped",
    oracle=f"""
        WITH comp AS ({duckdb_connected_components(duckdb_ngram_jaccard("documents", **_NGRAM, max_df=4))})
        SELECT component, n_members, canonical_doc, canonical_chars
        FROM (
            SELECT component,
                   CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
                   doc_id AS canonical_doc,
                   CAST(n_chars AS BIGINT) AS canonical_chars,
                   row_number() OVER (
                       PARTITION BY component ORDER BY n_chars DESC, doc_id
                   ) AS rn
            FROM comp JOIN documents USING (doc_id)
        ) WHERE rn = 1
    """,
    ref="canonical-representative selection over the CAPPED pair graph — "
    "completes the components family's 100 TB posture (see "
    "dedup_components_capped): all three downstream passes (components, "
    "canonical, kept corpus) consume the same max_df-governed generator, "
    "each with its own oracle reproducing the drop rule",
)
def dedup_cluster_canonical_capped(spark, sf_dir):
    from pyspark.sql import Window

    pairs = ngram_jaccard_pairs(T(spark, sf_dir, "documents"), **_NGRAM, max_df=4)
    comp = connected_components(pairs)
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("component")
    rn = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        comp.join(d, "doc_id")
        .withColumn("n_members", F.count("*").over(w).cast("long"))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            "n_members",
            F.col("doc_id").alias("canonical_doc"),
            F.col("n_chars").cast("long").alias("canonical_chars"),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle=duckdb_cosine_near_dup("embeddings", **_NEARDUP),
    ref="embedding-cosine near-dup pairs — exact O(n²) baseline, fully distributed: "
    "the corpus is one bucket of the LSH entry's tile kernel (id % K block-pair "
    "tiles, Arrow kernel over the shared similarity.fold_dots fold; no driver "
    "collect, no per-pair interpreted expressions — 30x over the expression "
    "cross join at sf0.1; cosine_near_dup stays the expression anchor, "
    "equality asserted in tests; LSH/IVF entries are the 100 TB scale path)",
)
def dedup_embedding_cosine(spark, sf_dir):
    from ..functions.similarity import cosine_near_dup_blocked

    return cosine_near_dup_blocked(T(spark, sf_dir, "embeddings"), **_NEARDUP)


@register(
    "dedup_embedding_lsh",
    oracle=duckdb_cosine_near_dup_lsh("embeddings", **_NEARDUP),
    ref="random-hyperplane LSH bucketed near-dup — the 100 TB scale path: exact cosine "
    "verify only within same-bucket candidates (deterministic md5 hyperplanes)",
)
def dedup_embedding_lsh(spark, sf_dir):
    return cosine_near_dup_lsh(T(spark, sf_dir, "embeddings"), **_NEARDUP)


@register(
    "ivf_topk_search",
    oracle=duckdb_ivf_topk("embeddings", query_where="vec_id < 100", **_IVF, k=5),
    ref="end-to-end IVF ANN search: coarse-quantize then exact top-k within the query's "
    "bucket only (~num_centroids× candidate shrink; the scale path over knn_cosine_topk)",
)
def ivf_topk_search(spark, sf_dir):
    return ivf_topk(
        T(spark, sf_dir, "embeddings"),
        k=5,
        query_filter=F.col("id") < 100,
        **_IVF,
    )


@register(
    "ivf_topk_multiprobe",
    oracle=duckdb_ivf_topk("embeddings", query_where="vec_id < 100", **_IVF, k=5, nprobe=3),
    ref="multi-probe IVF search (the standard recall dial): each query scans its "
    "nprobe=3 closest buckets, neighbors index under their primary bucket only — "
    "recall approaches brute force as nprobe → num_centroids (asserted exact at "
    "nprobe=num_centroids in tests) while candidates stay (num_centroids/nprobe)× "
    "smaller than all-pairs",
)
def ivf_topk_multiprobe(spark, sf_dir):
    return ivf_topk(
        T(spark, sf_dir, "embeddings"),
        k=5,
        query_filter=F.col("id") < 100,
        nprobe=3,
        **_IVF,
    )


@register(
    "ivf_assign_buckets",
    oracle=duckdb_ivf_assign("embeddings", **_IVF),
    ref="IVF coarse-quantizer bucket assignment (broadcast centroids) — ANN scale path",
)
def ivf_assign_buckets(spark, sf_dir):
    return ivf_assign(T(spark, sf_dir, "embeddings"), **_IVF)


@register(
    "dedup_kept_corpus",
    oracle=f"""
        WITH comp AS ({duckdb_connected_components(duckdb_ngram_jaccard("documents", **_NGRAM))})
        SELECT d.doc_id,
               CASE WHEN comp.component IS NOT NULL THEN comp.component
                    ELSE d.doc_id END AS component,
               (comp.component IS NULL OR comp.component = d.doc_id) AS kept
        FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
    """,
    ref="the dedup pipeline's DELIVERABLE: every doc labeled with its duplicate "
    "component (itself when untouched by any near-dup pair) and whether it is the "
    "kept representative (component minimum). Downstream training reads "
    "WHERE kept — near-dup groups collapse to one exemplar each",
)
def dedup_kept_corpus(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, **_NGRAM)
    comp = connected_components(pairs)
    joined = d.select("doc_id").join(
        comp.select(F.col("doc_id").alias("c_doc"), "component"),
        F.col("doc_id") == F.col("c_doc"),
        "left",
    )
    component = F.coalesce(F.col("component"), F.col("doc_id"))
    kept = F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
    return joined.select(
        "doc_id", component.alias("component"), kept.alias("kept")
    )


_RECALL_K = 5


@register(
    "ann_recall_at_k",
    oracle=f"""
        WITH exact_topk AS ({duckdb_cosine_topk("embeddings", query_where="vec_id < 100", k=_RECALL_K, round_digits=6)}),
        approx_topk AS ({duckdb_ivf_topk("embeddings", query_where="vec_id < 100", num_centroids=8, round_digits=6, k=_RECALL_K, nprobe=3)}),
        hits AS (
            SELECT e.q_id, count(a.n_id) AS n_hit
            FROM exact_topk e LEFT JOIN approx_topk a
              ON a.q_id = e.q_id AND a.n_id = e.n_id
            GROUP BY e.q_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(n_hit) AS BIGINT) AS n_hits,
               (floor(sum(n_hit) * 1.0 / (count(*) * _RECALL_K_PLACEHOLDER) * 1000000 + 0.5)
                    / 1000000) AS recall_at_k,
               CAST(sum(CASE WHEN n_hit = _RECALL_K_PLACEHOLDER THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_perfect
        FROM hits
    """.replace("_RECALL_K_PLACEHOLDER", str(_RECALL_K)),
    ref="ANN quality gate: recall@k of multi-probe IVF (nprobe=3) against the exact "
    "brute-force top-k on the same query batch — the evaluation every ANN deployment "
    "runs before trading exactness for the bucketed scan. Hit counting is a join on "
    "(q_id, n_id) and recall is a ratio of exact integers (bit-portable); both "
    "pipelines reuse the registered operators unchanged",
)
def ann_recall_at_k(spark, sf_dir):
    from ..functions.rounding import fround

    emb = T(spark, sf_dir, "embeddings")
    exact = cosine_topk_vectorized(
        emb, query_filter=F.col("id") < 100, k=_RECALL_K, round_digits=6
    ).select("q_id", "n_id")
    approx = ivf_topk(
        emb, k=_RECALL_K, query_filter=F.col("id") < 100, nprobe=3, **_IVF
    ).select(F.col("q_id").alias("a_q"), F.col("n_id").alias("a_n"))
    hits = (
        exact.join(
            approx,
            (F.col("q_id") == F.col("a_q")) & (F.col("n_id") == F.col("a_n")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("a_n").alias("n_hit"))
    )
    return hits.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("n_hit").cast("long").alias("n_hits"),
        fround(
            F.sum("n_hit") / (F.count("*") * F.lit(_RECALL_K)), 6
        ).alias("recall_at_k"),
        F.sum((F.col("n_hit") == _RECALL_K).cast("long")).cast("long").alias(
            "n_perfect"
        ),
    )


# Johnson-Lindenstrauss signed random projection: 64 -> _JL_OUT dims with
# entries in {+1, -1} (Achlioptas 2003's database-friendly distribution —
# no Gaussian sampling, just signs), seeded per (out_dim, in_dim) from md5
# at DEFINITION time and baked as literals into both engines' expressions
# (the pq-codebook / hyperplane-constant rule: never recompute per row).
_JL_OUT = 16
_JL_IN = 64


def _jl_signs():
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"jl:{j}:{i}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(_JL_IN)
        ]
        for j in range(_JL_OUT)
    ]


def _jl_project_exprs():
    """(spark_builder(v_col) -> list[Column], duck_list_sql(v_sql) -> str)
    computing the projected vector with the IDENTICAL left-to-right term
    chain on both engines — generated from ONE sign table so the fold
    order (and therefore every IEEE intermediate) cannot drift."""
    signs = _jl_signs()

    def spark(v):
        cols = []
        for row in signs:
            acc = F.lit(row[0]) * F.element_at(v, 1)
            for i in range(1, _JL_IN):
                acc = acc + F.lit(row[i]) * F.element_at(v, i + 1)
            cols.append(acc)
        return cols

    dims = []
    for row in signs:
        terms = " + ".join(
            f"({row[i]} * {{v}}[{i + 1}])" for i in range(_JL_IN)
        )
        dims.append(f"({terms})")
    duck = "[" + ", ".join(dims) + "]"
    return spark, duck


def _jl_np_project(V):
    """Numpy twin of the Spark/Duck projection term chain: out[:, j] is the
    SAME left fold ``((s0*v0) + s1*v1) + ...`` the generated expression
    evaluates, one vectorized multiply-add per input dimension, so every
    IEEE intermediate — and therefore every projected value — is
    bit-identical to the expression column
    (test_jl_numpy_projection_matches_expression). Exists because the
    16x64-term expression column exceeds what whole-stage codegen will
    compile and fell back to per-row interpretation: measured
    3.7 s for 20k rows at sf1 (~185 us/row) vs milliseconds here."""
    import numpy as np

    S = np.array(_jl_signs(), dtype=np.float64)  # (out_dims, in_dims)
    out = np.empty((V.shape[0], S.shape[0]), dtype=np.float64)
    for j in range(S.shape[0]):
        acc = S[j, 0] * V[:, 0]
        for i in range(1, S.shape[1]):
            acc = acc + S[j, i] * V[:, i]
        out[:, j] = acc
    return out


def _jl_oracle() -> str:
    _spark, duck_list = _jl_project_exprs()
    v = "list_transform(embedding, x -> x::DOUBLE)"
    proj_list = duck_list.format(v="v")
    exact = duckdb_cosine_topk(
        "embeddings", query_where="vec_id < 100", k=_RECALL_K, round_digits=6
    )
    approx = duckdb_cosine_topk(
        "jl_proj", query_where="vec_id < 100", k=_RECALL_K, round_digits=6
    )
    return f"""
        WITH jl_proj AS (
            SELECT vec_id, {proj_list} AS embedding
            FROM (SELECT vec_id, {v} AS v FROM embeddings)
        ),
        exact_topk AS ({exact}),
        approx_topk AS ({approx}),
        hits AS (
            SELECT e.q_id, count(a.n_id) AS n_hit
            FROM exact_topk e LEFT JOIN approx_topk a
              ON a.q_id = e.q_id AND a.n_id = e.n_id
            GROUP BY e.q_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(n_hit) AS BIGINT) AS n_hits,
               (floor(sum(n_hit) * 1.0 / (count(*) * {_RECALL_K}) * 1000000 + 0.5)
                    / 1000000) AS recall_at_k,
               CAST(sum(CASE WHEN n_hit = {_RECALL_K} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_perfect
        FROM hits
    """


@register(
    "jl_projection_recall",
    oracle=None,  # set by _jl_finalize below (needs the generated terms)
    ref="dimensionality-reduction quality gate (the third axis of the ANN "
    "evaluation family, next to ann_recall_at_k's IVF-bucketing axis and "
    "pq_topk_search_adc's quantization axis): recall@k of brute-force "
    f"cosine top-{_RECALL_K} computed in a {_JL_OUT}-dim Johnson-"
    f"Lindenstrauss signed random projection of the {_JL_IN}-dim "
    "embeddings vs the exact top-k in the original space — the evaluation "
    "run before shrinking an ANN index's memory/compute 4x by projecting. "
    "Signs are Achlioptas 2003's database-friendly +/-1 distribution "
    "(distance-preserving in expectation, no Gaussian needed), md5-seeded "
    "per matrix cell at definition time and baked as LITERALS into one "
    "generated term chain both engines evaluate in the identical order — "
    "the projection is bit-identical across engines, so the oracle "
    "checks the full pipeline, not just the counting. Measured recall on "
    "the fixture (out-dims 16/24/32/48 at gate SF): 0.094/0.16/0.172/0.21 "
    "— the synthetic embeddings are near-uniform, so top-5 neighbor "
    "margins are tiny and ANY metric-distorting reduction scores low "
    "(the same fixture property the IVF nprobe curve shows); clustered "
    "real encoder spaces fare far better, and the entry's value is the "
    "bit-exact evaluation harness, not this fixture's number. 100 TB "
    "posture: the projection is a map-side expression (no shuffle); both "
    "top-k sides are the documented brute-force anchors on the fixture "
    "query batch — at corpus scale the projected side is exactly what "
    "feeds the IVF/PQ index build at a quarter of the vector bytes",
)
def jl_projection_recall(spark, sf_dir):
    from ..functions.rounding import fround

    emb = T(spark, sf_dir, "embeddings")
    exact = cosine_topk_vectorized(
        emb, query_filter=F.col("id") < 100, k=_RECALL_K, round_digits=6
    ).select("q_id", "n_id")
    # r11 (guide §4.2): the projection runs INSIDE the numpy kernel
    # (vec_transform) instead of as a generated expression column — the
    # 16x64-term chain fell out of whole-stage codegen into per-row
    # interpretation (3.7 s for 20k rows at sf1, the entry's dominant
    # stage); the numpy twin is the identical IEEE fold (bit-equality
    # pinned) and costs milliseconds. Full entry warm 7.8 -> 1.7 s at sf1.
    approx = cosine_topk_vectorized(
        emb,
        query_filter=F.col("id") < 100,
        k=_RECALL_K,
        round_digits=6,
        vec_transform=_jl_np_project,
    ).select(F.col("q_id").alias("a_q"), F.col("n_id").alias("a_n"))
    hits = (
        exact.join(
            approx,
            (F.col("q_id") == F.col("a_q")) & (F.col("n_id") == F.col("a_n")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("a_n").alias("n_hit"))
    )
    return hits.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("n_hit").cast("long").alias("n_hits"),
        fround(
            F.sum("n_hit") / (F.count("*") * F.lit(_RECALL_K)), 6
        ).alias("recall_at_k"),
        F.sum((F.col("n_hit") == _RECALL_K).cast("long")).cast("long").alias(
            "n_perfect"
        ),
    )


def _jl_finalize():
    from .registry import _REGISTRY

    e = _REGISTRY["jl_projection_recall"]
    object.__setattr__(e, "oracle", _jl_oracle())


_jl_finalize()


# Near-dup eval decontamination: pseudo eval split (doc_id % mod == 0,
# ~14% here so the gate-SF fixture exercises the path; a real run
# substitutes the benchmark suite, which is far smaller and broadcasts
# even more comfortably).
_DECON_MOD = 7


def _decon_nd_oracle() -> str:
    from ..functions.dedup import duck_minhash_bands
    from ..functions.rounding import duck_fround

    thr = _MINHASH["threshold"]
    jac = duck_fround("i.inter / (st.sz + se.sz - i.inter)", 4)
    return f"""
        WITH {duck_minhash_bands("documents", _MINHASH["n"], _MINHASH["num_hashes"],
                                 _MINHASH["rows_per_band"])},
        cands AS (
            SELECT DISTINCT t.id AS doc_id, e.id AS eval_id
            FROM banded t JOIN banded e
              ON t.band = e.band AND t.bkey = e.bkey
            WHERE t.id % {_DECON_MOD} <> 0 AND e.id % {_DECON_MOD} = 0
        ),
        sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        inter AS (
            SELECT t.id AS doc_id, e.id AS eval_id, count(*) AS inter
            FROM sh t JOIN sh e ON t.shingle = e.shingle
            WHERE t.id % {_DECON_MOD} <> 0 AND e.id % {_DECON_MOD} = 0
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT i.doc_id, i.eval_id, {jac} AS jaccard
            FROM inter i
            JOIN cands c ON c.doc_id = i.doc_id AND c.eval_id = i.eval_id
            JOIN sizes st ON st.id = i.doc_id
            JOIN sizes se ON se.id = i.eval_id
            WHERE {jac} >= {thr}
        ),
        best AS (
            SELECT doc_id, eval_id AS best_eval_id, jaccard AS best_jaccard
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY jaccard DESC, eval_id) AS rn
                FROM pairs
            ) WHERE rn = 1
        )
        SELECT c.doc_id,
               CAST(c.n_eval_matches AS BIGINT) AS n_eval_matches,
               CAST(b.best_eval_id AS BIGINT) AS best_eval_id,
               b.best_jaccard
        FROM (SELECT doc_id, count(*) AS n_eval_matches
              FROM pairs GROUP BY doc_id) c
        JOIN best b ON b.doc_id = c.doc_id
    """


@register(
    "decontaminate_near_dup",
    oracle=None,  # set by _decon_nd_finalize (needs generated perm literals)
    ref="NEAR-DUP benchmark decontamination — the fuzzy complement of "
    "decontaminate_eval_overlap's exact 8-token-span rule (Llama/GPT-style "
    "audits run both: verbatim spans catch quotation, near-dup catches "
    "paraphrase/reformat contamination an exact span misses): every TRAIN "
    "document whose MinHash-LSH candidate set contains an eval document "
    "and survives the exact-Jaccard verify is reported with its match "
    "count, best-matching eval doc, and best Jaccard — the audit table "
    "that drives the drop list, with provenance. The plan shape is the "
    "POINT: unlike the symmetric corpus x corpus banding (one bucket "
    "groupBy), the eval side is benchmark-sized, so its band rows and its "
    "shingle arrays BROADCAST and the training side streams map-side "
    "through two broadcast hash joins — no shuffle keyed on band or "
    "shingle anywhere, linear in corpus size (the "
    "decontaminate_eval_overlap posture lifted from span hashes to the "
    "full LSH pipeline; band/signature machinery shared verbatim with "
    "minhash_lsh_pairs: the minhash_shingles kernel and the "
    "banded_signatures (band, bkey) rows)",
)
def decontaminate_near_dup(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.dedup import banded_signatures, minhash_shingles
    from ..functions.rounding import fround

    d = T(spark, sf_dir, "documents")
    sh, _ = owned_persist(
        minhash_shingles(d, _MINHASH["n"], _MINHASH["num_hashes"])
    )
    banded = banded_signatures(
        sh.select("id", "sig"), _MINHASH["num_hashes"], _MINHASH["rows_per_band"]
    )
    is_eval = F.col("id") % _DECON_MOD == 0
    ev_bands = banded.filter(is_eval).select(
        F.col("id").alias("eval_id"), "band", "bkey"
    )
    cands = (
        banded.filter(~is_eval)
        .join(F.broadcast(ev_bands), ["band", "bkey"])
        .select(F.col("id").alias("doc_id"), "eval_id")
        .distinct()
    )
    tr_sh = sh.select(F.col("id").alias("doc_id"), F.col("shingles").alias("sh_t"))
    ev_sh = sh.filter(is_eval).select(
        F.col("id").alias("eval_id"), F.col("shingles").alias("sh_e")
    )
    ver = cands.join(tr_sh, "doc_id").join(F.broadcast(ev_sh), "eval_id").select(
        "doc_id",
        "eval_id",
        F.size(F.array_intersect("sh_t", "sh_e")).cast("long").alias("inter"),
        F.size("sh_t").cast("long").alias("sz_t"),
        F.size("sh_e").cast("long").alias("sz_e"),
    )
    jac = fround(
        F.col("inter") / (F.col("sz_t") + F.col("sz_e") - F.col("inter")), 4
    )
    # pairs feeds TWO consumers (the best-match window and the match-count
    # agg); unpersisted, each re-derived the full verify chain — banding,
    # broadcast probe, array-intersect verify — doubling the entry's wall
    # (r11 stage isolation: ~6 s per derivation at sf10 on a warm shingle
    # cache). The surviving pair set is audit-sized.
    pairs, _ = owned_persist(
        ver.withColumn("jaccard", jac)
        .filter((F.col("inter") > 0) & (F.col("jaccard") >= _MINHASH["threshold"]))
        .select("doc_id", "eval_id", "jaccard")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("eval_id")
    )
    best = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("eval_id").alias("best_eval_id"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    counts = pairs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_eval_matches")
    )
    return counts.join(best, "doc_id").select(
        "doc_id", "n_eval_matches", "best_eval_id", "best_jaccard"
    )


def _decon_nd_finalize():
    from .registry import _REGISTRY

    e = _REGISTRY["decontaminate_near_dup"]
    object.__setattr__(e, "oracle", _decon_nd_oracle())


_decon_nd_finalize()


_INCR_SPLIT = 400  # doc_id < split = existing corpus; >= split = new batch


def admission_summary(batch, pairs):
    """One-row summary of an incremental admission: ``batch_docs`` (rows of
    ``batch``, a ``doc_id`` frame), ``dup_new_docs`` (distinct batch ids that
    are ``id_b`` of a surviving existing-vs-batch pair) and ``admitted_docs``
    (the rest). Checkpointed eagerly, so the rejected set is released before
    returning."""
    rejected = pairs.select(F.col("id_b").alias("doc_id")).distinct().persist()
    # fill before the two consumers run: AQE submits them concurrently, and
    # each would otherwise recompute ``pairs`` in full
    rejected.count()
    admitted = batch.join(rejected, "doc_id", "left_anti")
    out = (
        batch.agg(F.count("*").cast("long").alias("batch_docs"))
        .crossJoin(rejected.agg(F.count("*").cast("long").alias("dup_new_docs")))
        .crossJoin(admitted.agg(F.count("*").cast("long").alias("admitted_docs")))
    )
    out = out.localCheckpoint(eager=True)
    rejected.unpersist()
    return out


@register(
    "dedup_incremental_exact",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id, {duck_normalized_fp("text")} AS fp
            FROM documents
        ),
        existing AS (SELECT DISTINCT fp FROM fp WHERE doc_id < {_INCR_SPLIT}),
        batch AS (SELECT doc_id, fp FROM fp WHERE doc_id >= {_INCR_SPLIT}),
        fresh AS (
            -- NOT EXISTS, not NOT IN: NOT IN is three-valued under NULLs (a
            -- NULL fp in `existing` would empty `fresh`; NULL-fp batch rows
            -- would be dropped) while Spark's left_anti keeps them — NOT
            -- EXISTS has exactly the anti-join's NULL semantics
            SELECT b.doc_id, b.fp FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = b.fp)
        )
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM batch) AS batch_docs,
            (SELECT CAST(count(*) AS BIGINT) FROM fresh) AS novel_docs,
            (SELECT CAST(count(DISTINCT fp) AS BIGINT) FROM fresh) AS admitted_docs
    """,
    ref="incremental dedup — the steady-state shape of a corpus pipeline: a NEW batch "
    "is admitted only where its normalized-text fingerprint (functions/dedup.py "
    "normalized_fp — the same identity exact_dedup uses) is unseen in the existing "
    "corpus (left_anti join on fp — one shuffle keyed on the fingerprint, identical "
    "at 100 TB where 'existing' is the fingerprint store), then deduped within "
    "itself. Reports batch/novel/admitted counts; novel and admitted are one "
    "aggregate over the anti-joined frame, its only consumer, so it is not persisted",
)
def dedup_incremental_exact(spark, sf_dir):
    from ..functions.dedup import normalized_fp

    d = T(spark, sf_dir, "documents")
    fp = d.select("doc_id", normalized_fp("text").alias("fp"))
    existing = fp.filter(F.col("doc_id") < _INCR_SPLIT).select("fp").distinct()
    batch = fp.filter(F.col("doc_id") >= _INCR_SPLIT)
    fresh = batch.join(existing, "fp", "left_anti")
    return batch.agg(F.count("*").cast("long").alias("batch_docs")).crossJoin(
        fresh.agg(
            F.count("*").cast("long").alias("novel_docs"),
            F.countDistinct("fp").cast("long").alias("admitted_docs"),
        )
    )


@register(
    "pq_encode_vectors",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.similarity", fromlist=["duckdb_pq_encode"]
    ).duckdb_pq_encode("embeddings", m=8, k=16),
    ref="product quantization encode (m=8 subspaces, k=16 codewords) — the ANN "
    "compression layer: vectors shrink to m codes; codebooks are the deterministic "
    "sample-as-centroid rule ivf_probes uses, broadcast as literals; codeword choice "
    "ranks by floor-rounded squared L2 (ordered per-dim fold) with id tie-break so "
    "both engines pick identical codes; recon_err folds the m subspace distances in "
    "subspace order",
)
def pq_encode_vectors(spark, sf_dir):
    from ..functions.similarity import pq_encode

    return pq_encode(T(spark, sf_dir, "embeddings"), m=8, k=16)


@register(
    "pq_topk_search_adc",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.similarity", fromlist=["duckdb_pq_topk"]
    ).duckdb_pq_topk("embeddings", k=5, m=8, num_codewords=16, query_where="id < 100"),
    ref="PQ asymmetric-distance (ADC) top-k — the search half of pq_encode_vectors: "
    "queries precompute an m x k distance table over the broadcast codebooks; each "
    "corpus vector is ranked by a j-ordered fold of m table lookups over its CODES "
    "only (never its floats) — the memory-bandwidth shape that makes PQ the 100 TB "
    "compression layer. fround'd terms + (adc_dist, n_id) ranking keep both engines "
    "identical",
)
def pq_topk_search_adc(spark, sf_dir):
    from ..functions.similarity import pq_topk

    return pq_topk(
        T(spark, sf_dir, "embeddings"),
        k=5, m=8, num_codewords=16,
        query_filter=F.col("id") < 100,
    )


@register(
    "kmeans_lloyd_refine",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.similarity",
        fromlist=["duckdb_kmeans_lloyd"],
    ).duckdb_kmeans_lloyd("embeddings", k=8, iters=2),
    ref="k-means with 2 Lloyd refinement steps — the iterative-ML pattern on "
    "DataFrames (upgrades ivf_probes' static first-k seeding; refined centroids "
    "feed back into IVF bucket balance). Assignment is a zero-shuffle in-row "
    "argmin against ONE broadcast centroid row; the update shuffles k*d mean "
    "cells regardless of corpus size; the driver only ever holds the k*d "
    "centroid frame (MLlib k-means loop shape). fround-ed inputs/means/dists + "
    "lowest-cluster tie-break keep both engines assignment-identical",
)
def kmeans_lloyd_refine(spark, sf_dir):
    from ..functions.similarity import kmeans_lloyd

    return kmeans_lloyd(T(spark, sf_dir, "embeddings"), k=8, iters=2)


@register(
    "dedup_containment",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.dedup",
        fromlist=["duckdb_containment"],
    ).duckdb_containment("documents", n=3, threshold=0.6),
    ref="asymmetric containment near-dup C(A in B)=|A∩B|/|A| over shingle sets "
    "— catches subset duplication (short doc embedded in a long one) that "
    "Jaccard structurally misses. Candidates come from the shingle join, NOT "
    "banded LSH: band collision probability ~ Jaccard^rows means banding never "
    "surfaces the very subset pairs containment exists to find (pinned by test)",
)
def dedup_containment(spark, sf_dir):
    from ..functions.dedup import containment_pairs

    return containment_pairs(T(spark, sf_dir, "documents"), n=3, threshold=0.6)


@register(
    "dedup_containment_capped",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.dedup",
        fromlist=["duckdb_containment"],
    ).duckdb_containment("documents", n=3, threshold=0.6, max_df=4),
    ref="the 100 TB configuration of containment dedup: same max_df "
    "rare-shingle cap as dedup_ngram_jaccard_capped (the shared shingle join "
    "is the quadratic stage; the uncapped exact form times out at the sf10 "
    "fixture). Containment denominators |A|,|B| recomputed over the capped "
    "shingle universe identically on both engines",
)
def dedup_containment_capped(spark, sf_dir):
    from ..functions.dedup import containment_pairs

    return containment_pairs(
        T(spark, sf_dir, "documents"), n=3, threshold=0.6, max_df=4
    )


@register(
    "knn_filtered_topk",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.similarity",
        fromlist=["duckdb_cosine_topk_filtered"],
    ).duckdb_cosine_topk_filtered(
        "embeddings", k=5, query_where="vec_id < 50", neighbor_where="label = 1"
    ),
    ref="filtered vector search (the RAG query): cosine top-k where neighbors "
    "must satisfy a metadata predicate (label = 1). PRE-filtering: the predicate "
    "lands on the neighbor scan before any distance math (parquet pushdown on a "
    "plain metadata column) and guarantees exactly k survivors — post-filtering "
    "a plain top-k needs k/selectivity candidates and can still under-fill",
)
def knn_filtered_topk(spark, sf_dir):
    from ..functions.similarity import cosine_topk_filtered

    return cosine_topk_filtered(
        T(spark, sf_dir, "embeddings"),
        k=5,
        query_filter=F.col("vec_id") < 50,
        neighbor_filter=F.col("label") == 1,
    )


@register(
    "ivf_filtered_topk",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.similarity",
        fromlist=["duckdb_ivf_topk"],
    ).duckdb_ivf_topk(
        "embeddings", k=5, num_centroids=8, nprobe=3,
        query_where="vec_id < 50", neighbor_where="label = 1",
    ),
    ref="the SCALE path for filtered vector search: IVF buckets + metadata "
    "predicate on the neighbor side. Eligible ids come from a column-pruned "
    "metadata scan (pushed predicate) and restrict the bucketed side BEFORE "
    "the bucket join — candidates shrink by selectivity x "
    "(num_centroids/nprobe); knn_filtered_topk is the brute-force recall "
    "anchor for this entry exactly as knn_cosine_topk anchors ivf_topk_search",
)
def ivf_filtered_topk(spark, sf_dir):
    from ..functions.similarity import ivf_topk

    return ivf_topk(
        T(spark, sf_dir, "embeddings"),
        k=5, num_centroids=8, nprobe=3,
        query_filter=F.col("id") < 50,
        neighbor_filter=F.col("label") == 1,
    )


def _fuzzy_wildcard_keys_expr(names):
    """Expression-fold reference for :func:`_fuzzy_wildcard_keys` — the
    original wildcard-key construction with the bucket key interned as a
    60-bit md5 long (bit-equality twin for the kernel test). Empty names are
    excluded: Spark's ``sequence(1, 0)`` is the DESCENDING [1, 0] while the
    oracle's ``generate_series(1, 0)`` is empty — the kernel and oracle
    agree (no keys), and the filter pins the twin to the same semantics."""
    from ..functions.dedup import md5_long

    return names.filter(F.length("nm") >= 1).select(
        "id",
        "nm",
        F.explode(
            F.expr(
                "transform(sequence(1, length(nm)),"
                " i -> struct(i AS i, concat(substring(nm, 1, i - 1), chr(1),"
                " substring(nm, i + 1)) AS bk))"
            )
        ).alias("k"),
    ).select(
        "id", "nm", F.col("k.i").alias("i"), md5_long(F.col("k.bk")).alias("bkh")
    )


def _fuzzy_wildcard_keys(names):
    """(id, nm, i, bkh) deletion-neighborhood key stream — Arrow-kernel path,
    bit-identical to :func:`_fuzzy_wildcard_keys_expr` (test-pinned).

    Why (r11, guide §4.2): at the 1.5M-customer fixture the interpreted
    concat/substring fold built ~28M wildcard strings PER JOIN SIDE and the
    bucket join shuffled them as ~20-char string keys — 126 s warm. The
    kernel builds each equal-length ASCII batch group as one (N, L) byte
    matrix, derives position i's keys by overwriting column i with the 0x01
    wildcard byte, and hashes all N messages per position through the
    vectorized single-block md5 (functions/md5np.py); the bucket key crosses
    the shuffle as an 8-byte md5 intern on BOTH engines (the shingle-intern
    pattern: identical hash function on identical bytes, so even a 2^-60
    collision is engine-consistent). Non-ASCII or >55-byte names take a
    per-name ``md5_60`` fallback (wildcard positions are CHARACTER
    offsets)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..functions.md5np import md5_60, md5_60bit_fixed_len
    from ..session import ensure_parallelism

    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("nm", StringType(), False),
            StructField("i", LongType(), False),
            StructField("bkh", LongType(), False),
        ]
    )
    def kernel(batches):
        for pdf in batches:
            ids_out: list[np.ndarray] = []
            nms_out: list[np.ndarray] = []
            pos_out: list[np.ndarray] = []
            bkh_out: list[np.ndarray] = []
            groups: dict[int, tuple[list[int], list[str], list[bytes]]] = {}
            ids = pdf["id"]
            nms = pdf["nm"]
            for row in range(len(pdf)):
                nm = nms.iloc[row]
                if nm is None or not nm:
                    continue
                b = nm.encode("utf-8")
                if len(b) == len(nm) and len(b) <= 55:
                    g = groups.setdefault(len(b), ([], [], []))
                    g[0].append(ids.iloc[row])
                    g[1].append(nm)
                    g[2].append(b)
                else:
                    # fallback: character-offset wildcards, md5_60 per key
                    rid = ids.iloc[row]
                    hs = np.fromiter(
                        (
                            md5_60(nm[: i - 1] + "\x01" + nm[i:])
                            for i in range(1, len(nm) + 1)
                        ),
                        dtype=np.int64,
                        count=len(nm),
                    )
                    ids_out.append(np.full(len(nm), rid, dtype=np.int64))
                    nms_out.append(np.repeat(np.array([nm], dtype=object), len(nm)))
                    pos_out.append(np.arange(1, len(nm) + 1, dtype=np.int64))
                    bkh_out.append(hs)
            for length, (gids, gnms, gbytes) in groups.items():
                n = len(gids)
                mat = np.frombuffer(b"".join(gbytes), dtype=np.uint8).reshape(
                    n, length
                )
                h_cols = np.empty((n, length), dtype=np.int64)
                msgs = np.empty_like(mat)
                for i in range(length):
                    np.copyto(msgs, mat)
                    msgs[:, i] = 1  # the chr(1) wildcard byte
                    h_cols[:, i] = md5_60bit_fixed_len(msgs)
                ids_out.append(np.repeat(np.asarray(gids, dtype=np.int64), length))
                nms_out.append(np.repeat(np.array(gnms, dtype=object), length))
                pos_out.append(
                    np.tile(np.arange(1, length + 1, dtype=np.int64), n)
                )
                bkh_out.append(h_cols.reshape(-1))
            empty_i = np.empty(0, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "id": np.concatenate(ids_out) if ids_out else empty_i,
                    "nm": (
                        np.concatenate(nms_out)
                        if nms_out
                        else np.empty(0, dtype=object)
                    ),
                    "i": np.concatenate(pos_out) if pos_out else empty_i,
                    "bkh": np.concatenate(bkh_out) if bkh_out else empty_i,
                }
            )

    return ensure_parallelism(names).mapInPandas(kernel, schema=schema)


@register(
    "fuzzy_match_customers",
    oracle=f"""
        WITH names AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
        keys AS (
            SELECT id, nm,
                   unnest(list_transform(
                       generate_series(1, length(nm)),
                       i -> {duck_md5_long("substring(nm, 1, i - 1) || chr(1) || substring(nm, i + 1)")}
                   )) AS bk
            FROM names
        ),
        cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.nm AS nm_a, b.nm AS nm_b
            FROM keys a JOIN keys b ON a.bk = b.bk AND a.id < b.id
        )
        SELECT id_a, id_b, CAST(levenshtein(nm_a, nm_b) AS BIGINT) AS lev
        FROM cands
        WHERE levenshtein(nm_a, nm_b) <= 1
    """,
    ref="entity resolution via deletion-neighborhood (wildcard) blocking: every "
    "name emits L single-position-wildcard keys; two names share a key iff they "
    "differ in at most that position, so every substitution-distance-1 pair is "
    "GUARANTEED to co-bucket (perfect recall for lev<=1 substitutions, no "
    "all-pairs join anywhere) and each key matches at most |alphabet| names "
    "(bounded buckets). Edit-distance verify runs on candidates only — "
    "Spark/DuckDB levenshtein agree exactly. The fuzzy-join family's analog of "
    "the LSH bucket-first contract; extend with length±1 keys for indels",
)
def fuzzy_match_customers(spark, sf_dir):
    names = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("nm")
    )
    # Kernel-built keys, PERSISTED: the a/b join sides are map-side frames
    # (no exchange Spark could reuse), so unpersisted each side re-ran the
    # full wildcard expansion + hash over the corpus (r11: 126 s warm at the
    # 1.5M-customer fixture; kernel + intern + persist -> see after plan).
    keys, _ = owned_persist(_fuzzy_wildcard_keys(names))
    a = keys.select(F.col("id").alias("id_a"), F.col("nm").alias("nm_a"), "i", "bkh")
    b = keys.select(F.col("id").alias("id_b"), F.col("nm").alias("nm_b"), "bkh")
    # No distinct() needed: two DIFFERENT names co-bucket at exactly ONE key
    # (the wildcard must sit on the sole differing position), and identical
    # names co-bucket at every key — keeping only rows where the wildcard
    # position is the first disagreement (or position 1 for equal names).
    # The wildcard is chr(1) (a control byte that cannot appear in the
    # data), not a printable char: a name CONTAINING the wildcard char
    # would yield identical bucket keys at different positions, letting the
    # same pair survive this filter more than once (ADVICE r5)
    # yields each pair exactly once WITHOUT shuffling the output-scale
    # candidate frame (at sf10 the old distinct re-shuffled ~40M rows
    # carrying both name strings).
    cands = (
        a.join(b, "bkh")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.expr("substr(nm_a, i, 1) <> substr(nm_b, i, 1)") | (F.col("i") == 1)
        )
        .select("id_a", "id_b", "nm_a", "nm_b")
    )
    return (
        cands.withColumn(
            "lev", F.levenshtein(F.col("nm_a"), F.col("nm_b")).cast("long")
        )
        .filter(F.col("lev") <= 1)
        .select("id_a", "id_b", "lev")
    )


@register(
    "dedup_incremental_minhash",
    oracle=f"""
        WITH pairs AS ({duckdb_minhash_lsh("documents", **_MINHASH)}),
        batch AS (SELECT doc_id FROM documents WHERE doc_id >= {_INCR_SPLIT}),
        rejected AS (
            SELECT DISTINCT id_b AS doc_id FROM pairs
            WHERE id_a < {_INCR_SPLIT} AND id_b >= {_INCR_SPLIT}
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM batch) AS batch_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM rejected) AS dup_new_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM batch b
                WHERE NOT EXISTS (SELECT 1 FROM rejected r
                                  WHERE r.doc_id = b.doc_id)) AS admitted_docs
    """,
    ref="incremental NEAR-dup admission — the fuzzy twin of "
    "dedup_incremental_exact and the steady-state LSH shape: a new batch "
    "(doc_id >= split) is admitted only where no banded-LSH candidate against "
    "the EXISTING corpus (doc_id < split) survives the exact-Jaccard verify. "
    "Reuses the full minhash_lsh_pairs pipeline (signatures map-side in "
    "the shingle kernel, ONE bucket groupBy carrying the shingle arrays, "
    "the Jaccard verify inside each bucket row) with split= set, so only "
    "buckets holding both sides reach the verify kernel and only cross-side "
    "pairs (id_a < split <= id_b) are intersected. At 100 TB the existing "
    "side is the persisted signature store; the batch side is the only "
    "fresh compute",
)
def dedup_incremental_minhash(spark, sf_dir):
    from ..functions.dedup import minhash_lsh_pairs

    d = T(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, **_MINHASH, split=_INCR_SPLIT)
    batch = d.filter(F.col("doc_id") >= _INCR_SPLIT).select("doc_id")
    return admission_summary(batch, pairs)


@register(
    "lsh_recall_vs_exact",
    oracle=f"""
        WITH exact AS ({duckdb_ngram_jaccard("documents", **_NGRAM)}),
        lsh AS ({duckdb_minhash_lsh("documents", **_MINHASH)})
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact_pairs,
               (SELECT CAST(count(*) AS BIGINT) FROM lsh)   AS n_lsh_pairs,
               (floor((SELECT count(*) FROM lsh) * 1.0
                      / greatest((SELECT count(*) FROM exact), 1)
                      * 10000 + 0.5) / 10000) AS pair_recall
    """,
    ref="LSH candidate recall vs the exact shingle-join ground truth (the "
    "evaluation twin of ann_recall_at_k, for the text near-dup family): both "
    "pipelines share n and threshold, and every LSH survivor passes the same "
    "exact-Jaccard verify, so LSH pairs are a subset of exact pairs and "
    "recall = |LSH| / |exact| of exact integer counts. This is the metric "
    "that justifies shipping the banded path at 100 TB where the exact "
    "all-pairs join is impossible — measured, not asserted",
)
def lsh_recall_vs_exact(spark, sf_dir):
    from ..functions.rounding import fround

    d = T(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(d, **_NGRAM)
    lsh = minhash_lsh_pairs(d, **_MINHASH)
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
    n_lsh = lsh.agg(F.count("*").cast("long").alias("n_lsh_pairs"))
    out = n_exact.crossJoin(F.broadcast(n_lsh)).select(
        "n_exact_pairs",
        "n_lsh_pairs",
        fround(
            F.col("n_lsh_pairs")
            * F.lit(1.0)
            / F.greatest(F.col("n_exact_pairs"), F.lit(1)),
            4,
        ).alias("pair_recall"),
    )
    return out


@register(
    "semantic_dedup_keep",
    oracle=__import__(
        "hadoop_3_0_0_beta1_gaia_spark.functions.similarity",
        fromlist=["duckdb_semantic_dedup"],
    ).duckdb_semantic_dedup("embeddings", num_centroids=8, **_NEARDUP),
    ref="SemDeDup (Abbas et al. 2023): cluster-then-dedup — IVF coarse "
    "assignment buckets the corpus into semantically coherent clusters, then "
    "the exact near-dup compare runs ONLY within a cluster and the lowest-id "
    "member of each neighborhood survives (deterministic anti-join keep rule, "
    "no iterative components). The 100 TB embedding-dedup workhorse: "
    "dedup_embedding_cosine is its exact all-pairs recall anchor, "
    "dedup_embedding_lsh the hyperplane-bucketed alternative",
)
def semantic_dedup_keep(spark, sf_dir):
    from ..functions.similarity import semantic_dedup

    return semantic_dedup(T(spark, sf_dir, "embeddings"), num_centroids=8, **_NEARDUP)


@register(
    "dedup_cluster_canonical",
    oracle=f"""
        WITH comp AS ({duckdb_connected_components(duckdb_ngram_jaccard("documents", **_NGRAM))})
        SELECT component, n_members, canonical_doc, canonical_chars
        FROM (
            SELECT component,
                   CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
                   doc_id AS canonical_doc,
                   CAST(n_chars AS BIGINT) AS canonical_chars,
                   row_number() OVER (
                       PARTITION BY component ORDER BY n_chars DESC, doc_id
                   ) AS rn
            FROM comp JOIN documents USING (doc_id)
        ) WHERE rn = 1
    """,
    ref="canonical-representative selection — the step that turns near-dup "
    "CLUSTERS (dedup_components' min-label fixpoint) into a kept corpus: per "
    "cluster keep the longest document (n_chars, doc_id tie-break — a "
    "deterministic integer quality proxy; quality_classifier_score's logit "
    "slots in identically at scale). One window per component (components are "
    "near-dup clusters — shallow and tiny by construction, so the partition "
    "is bounded); docs in no cluster are already canonical and need no row. "
    "Completes the pipeline dedup_minhash_lsh -> dedup_components -> HERE -> "
    "dedup_kept_corpus",
)
def dedup_cluster_canonical(spark, sf_dir):
    from pyspark.sql import Window

    pairs = ngram_jaccard_pairs(T(spark, sf_dir, "documents"), **_NGRAM)
    comp = connected_components(pairs)
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("component")
    rn = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        comp.join(d, "doc_id")
        .withColumn("n_members", F.count("*").over(w).cast("long"))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            "n_members",
            F.col("doc_id").alias("canonical_doc"),
            F.col("n_chars").cast("long").alias("canonical_chars"),
        )
    )


@register(
    "leakage_safe_split",
    oracle=f"""
        WITH comp AS ({duckdb_connected_components(duckdb_ngram_jaccard("documents", **_NGRAM, max_df=4))}),
        g AS (
            SELECT d.doc_id,
                   CAST(coalesce(comp.component, d.doc_id) AS BIGINT) AS group_id
            FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
        ),
        a AS (
            SELECT doc_id, group_id,
                   {__import__("hadoop_3_0_0_beta1_gaia_spark.functions.dedup", fromlist=["duck_md5_long"]).duck_md5_long("group_id::VARCHAR || ':gsplit:7'")}
                       % 100 AS bucket
            FROM g
        )
        SELECT doc_id, group_id,
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM a
    """,
    ref="leakage-safe train/val/test assignment: the split of a document is a "
    "pure md5 function of its near-dup GROUP id (connected component over the "
    "capped pair graph — dedup_components_capped's production configuration), "
    "not of the document id, so near-duplicates can never straddle the "
    "train/eval boundary (the contamination mode corpus_split_assign's "
    "per-doc rule cannot prevent and decontaminate_eval_overlap can only "
    "report after the fact). Singletons fall back to their own id — "
    "byte-compatible with corpus_split_assign's 90/5/5 hash rule. 100 TB "
    "posture: the group table is the capped components fixpoint (pair volume "
    "governed at the generator); the assignment itself is one left join plus "
    "a map-side hash. Stability caveat (unlike the per-doc rule): a split is "
    "stable only while its GROUP id is — a new document that bridges two "
    "groups or carries a smaller id than the current canonical changes the "
    "group id and reassigns the merged group wholesale; at 100 TB, pin "
    "group ids from a reference corpus snapshot (the "
    "dedup_incremental_minhash admission pattern) when split stability "
    "across refreshes matters more than strict leakage-safety of the union",
)
def leakage_safe_split(spark, sf_dir):
    from ..functions.dedup import md5_long

    d = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, **_NGRAM, max_df=4)
    comp = connected_components(pairs)
    g = d.select("doc_id").join(
        comp.select(F.col("doc_id").alias("c_doc"), "component"),
        F.col("doc_id") == F.col("c_doc"),
        "left",
    )
    group_id = F.coalesce(F.col("component"), F.col("doc_id")).cast("long")
    bucket = (
        md5_long(F.concat(group_id.cast("string"), F.lit(":gsplit:7"))) % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return g.select(
        "doc_id", group_id.alias("group_id"), split.alias("split")
    )
