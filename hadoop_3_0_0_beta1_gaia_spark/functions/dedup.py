"""Deduplication operators for training-data pipelines.

Exact dedup (hash-groupBy), n-gram Jaccard near-dup, MinHash+LSH, SimHash.
All hash functions are md5-derived so every operator has an exact DuckDB
oracle (Spark's murmur `hash()` is not portable). Each Spark builder has a
`duckdb_*` codegen twin generated from the SAME parameters — the two sides
cannot drift.

Scale notes (100 TB posture):
- exact dedup: one shuffle on the fingerprint — optimal.
- n-gram Jaccard: the pairwise verify joins on shingle; frequency-capped
  shingles (drop shingles appearing in > max_df docs) bound the quadratic
  blowup, the standard trick at corpus scale.
- MinHash/LSH: signatures are folded map-side in the shingle kernel;
  candidates are (band, band key) buckets formed by one groupBy shuffle —
  linear in corpus size, never all-pairs. This is the scale path; the
  Jaccard verify runs inside each bucket row, on candidates only.
- SimHash: two hash-aggregations, linear.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.pair import with_counter
from ..session import owned_persist
from .md5np import Md5Intern, md5_60, md5_64
from .rounding import duck_fround, fround
from .text_metrics import duck_tokens, py_ngrams, py_tokens, tokens

# ---------------------------------------------------------------------------
# shared md5-based hashing (portable Spark <-> DuckDB)
# ---------------------------------------------------------------------------


def md5_long(c: Column) -> Column:
    """First 15 hex digits of md5 as a non-negative 60-bit long."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def duck_md5_long(sql: str) -> str:
    return f"(('0x' || substr(md5({sql}), 1, 15))::BIGINT)"


def md5_int32(c: Column) -> Column:
    """First 8 hex digits of md5 as a long in [0, 2^32) — small enough that
    floor(h / 2^b) stays exact in double arithmetic on any engine."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def duck_md5_int32(sql: str) -> str:
    return f"(('0x' || substr(md5({sql}), 1, 8))::BIGINT)"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_fp(text_col: str = "text") -> Column:
    """md5 fingerprint of whitespace-normalized lowercase text — THE exact-
    dedup identity. Single definition; every consumer (exact dedup,
    incremental dedup) must build on this so fingerprints cannot drift."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )


def duck_normalized_fp(text_col: str = "text") -> str:
    """DuckDB twin of :func:`normalized_fp`."""
    return f"md5(trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g')))"


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text with the
    kept (minimum) id and the duplicate count. Single shuffle on fp."""
    return (
        df.select(normalized_fp(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def duckdb_exact_dedup(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
        SELECT {duck_normalized_fp(text_col)} AS fp,
               min({id_col}) AS keep_id, count(*) AS n_copies
        FROM {table} GROUP BY 1
    """


# ---------------------------------------------------------------------------
# shingles + n-gram Jaccard
# ---------------------------------------------------------------------------


def shingle_arrays_expr(
    df: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Expression-fold reference for :func:`shingle_arrays` — the original
    implementation, kept as the bit-equality twin the kernel is pinned
    against (tests/test_operators.py; the simhash64/simhash64_kernel
    pattern). Value semantics: lower → \\s+ split → drop empties → md5_long
    of every space-joined n-gram → array_distinct (first occurrence kept)."""
    from ..session import ensure_parallelism

    t = tokens(F.col(text_col))
    df = ensure_parallelism(df)  # single-file scans otherwise shingle on 1 core
    df = df.select(F.col(id_col).alias("id"), t.alias("toks")).filter(
        F.size("toks") >= n
    )
    sh = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: md5_long(F.array_join(F.slice("toks", i, n), " ")),
    )
    return df.select("id", F.array_distinct(sh).alias("shingles"))


def _doc_gram_hashes(texts, n: int, intern: Md5Intern):
    """``(row, gram hashes in text order)`` for every document of ``texts``
    with at least ``n`` tokens (NULL and shorter texts yield nothing) — the
    per-document loop of every token-gram kernel: :func:`text_metrics.py_tokens`
    (its notes cover the Java ``\\s`` and JVM-locale agreement), then each
    gram hashed once in C through the task's :class:`md5np.Md5Intern`."""
    for row, text in enumerate(texts):
        if text is None:
            continue
        toks = py_tokens(text)
        if len(toks) >= n:
            yield row, intern.hash_all(py_ngrams(toks, n))


def _shingle_scan(
    df: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    coeffs: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """(id, shingles[, sig]) — the one shingle kernel behind
    :func:`shingle_arrays` and :func:`minhash_shingles`. With ``coeffs`` it
    also folds the MinHash signature over each document's distinct
    shingles in numpy int64: ``sig[i] = min over h of (a_i·(h mod P) + b_i)
    mod P``. a_i < P and h mod P < P keep every product below 2^62, so the
    values are exact — the same longs the DuckDB oracle computes."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from ..session import ensure_parallelism

    fields = [
        StructField("id", df.schema[id_col].dataType, False),
        StructField("shingles", ArrayType(LongType(), False), False),
    ]
    if coeffs is not None:
        fields.append(StructField("sig", ArrayType(LongType(), False), False))
        a = np.array([c[0] for c in coeffs], dtype=np.int64)
        b = np.array([c[1] for c in coeffs], dtype=np.int64)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )

    def kernel(batches):
        intern = Md5Intern()
        for rb in batches:
            kept: list[int] = []
            lens: list[int] = []
            flat: list[int] = []
            for row, hs in _doc_gram_hashes(rb.column(1).to_pylist(), n, intern):
                d = dict.fromkeys(hs)
                kept.append(row)
                lens.append(len(d))
                flat.extend(d)
            if not kept:
                continue
            offsets = np.zeros(len(lens) + 1, dtype=np.int32)
            np.cumsum(lens, out=offsets[1:])
            h = np.array(flat, dtype=np.int64)
            cols = [
                rb.column(0).take(pa.array(kept, type=pa.int64())),
                pa.ListArray.from_arrays(offsets, h),
            ]
            if coeffs is not None:
                # not in place: the shingle column above shares h's buffer
                hp = h % _MINHASH_P
                sig = np.empty((len(kept), len(a)), dtype=np.int64)
                for i in range(len(a)):
                    sig[:, i] = np.minimum.reduceat(
                        (a[i] * hp + b[i]) % _MINHASH_P, offsets[:-1]
                    )
                cols.append(
                    pa.ListArray.from_arrays(
                        np.arange(0, sig.size + 1, len(a), dtype=np.int32),
                        sig.ravel(),
                    )
                )
            yield pa.RecordBatch.from_arrays(cols, names=[f.name for f in fields])

    return base.mapInArrow(kernel, schema=StructType(fields))


def shingle_arrays(
    df: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document DISTINCT shingle array (docs with < n tokens drop out) —
    Arrow-kernel path, bit-identical to :func:`shingle_arrays_expr` (all
    integer/md5 arithmetic, equality test-pinned on the fixture corpus plus
    adversarial whitespace/unicode rows).

    Shingles are INTERNED as md5-derived 60-bit longs (``md5_long``) at
    creation, on both engines identically: every downstream consumer (the
    shingle self-join, the array-carrying LSH buckets, minhash signatures)
    joins/intersects/shuffles 8-byte keys instead of raw n-gram text —
    measured ~5x less verify-shuffle volume at sf10, and the signature hash
    reuses this value instead of re-hashing. Intersection/size counts are
    value-identical across engines even under (cosmically unlikely) 60-bit
    collisions, because both sides hash with the same function.

    Why a kernel (guide §4.2): the expression fold pays the interpreted
    higher-order-function evaluator per gram — slice + array_join + md5 +
    hex→long conv each allocate per element, measured ~8 µs/shingle at the
    sf10 fixture (stage-isolated: 7.5 s of the capped family's wall vs a
    0.87 s tokenize floor). The kernel (:func:`_doc_gram_hashes`) hashes
    each gram once in C through the shared :class:`md5np.Md5Intern`
    (``md5_60`` == ``md5_long`` on identical UTF-8 bytes; boilerplate grams
    repeat across documents), and dedups with an order-preserving
    ``dict.fromkeys`` — exactly ``array_distinct`` over the hashed values.
    Entirely map-side, zero exchanges, embarrassingly parallel."""
    return _shingle_scan(df, n, id_col, text_col)


def shingles(df: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (id, shingle) rows — exploded view of :func:`shingle_arrays`
    (per-row distinct replaces the global distinct shuffle; the result set is
    identical since shingles are already unique within a document)."""
    return shingle_arrays(df, n, id_col, text_col).select(
        "id", F.explode("shingles").alias("shingle")
    )


def duck_shingles(table: str, n: int, id_col: str = "doc_id", text_col: str = "text") -> str:
    toks = duck_tokens(text_col)
    return f"""
        SELECT DISTINCT {id_col} AS id, {duck_md5_long('shingle')} AS shingle
        FROM (
            SELECT {id_col},
                   unnest(list_transform(range(1, len(toks) - {n - 2}),
                          i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' '))) AS shingle
            FROM (SELECT {id_col}, {toks} AS toks FROM {table})
            WHERE len(toks) >= {n}
        )
    """


def _df_capped_shingles(
    sh: DataFrame,
    max_df: int,
    generator: str = "ngram_jaccard",
    diag: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Document-frequency cap for shingle-join candidate generation: drop
    shingles appearing in > ``max_df`` documents BEFORE the self-join.

    The raw shingle self-join is quadratic in per-shingle document frequency
    — at the sf10 fixture (500k docs) 27k boilerplate shingles out of 5.6M
    carry 8.89B of the join's 8.89B intermediate pairs (99.99%+), while a
    df <= 8 cap keeps ~6.4k. Dropping ubiquitous shingles is the standard
    corpus-scale move (rare-shingle candidate generation); set sizes are
    recomputed over the capped universe so the similarity denominator stays
    consistent. Dropped volume is observable via :func:`cap_counter` over
    the caller-supplied ``diag`` dict (same governance pattern as the LSH
    bucket cap; per-call like connected_components' diag — no module global,
    so building two capped plans can never cross-wire their metrics and the
    pattern is reentrant).

    Returns (capped (id, shingle) rows, per-doc capped sizes (id, sz)).
    """
    if max_df < 1:
        raise ValueError("max_df must be >= 1")
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    freq, obs = with_counter(
        freq,
        f"shingle_df_cap_{generator}",
        F.sum((F.col("df") > max_df).cast("long")).alias("df_dropped_shingles"),
        F.sum(F.when(F.col("df") > max_df, F.col("df")).otherwise(0)).alias(
            "df_dropped_rows"
        ),
    )
    _record_cap_obs(diag, f"shingle_df_cap_{generator}", obs)
    rare = freq.filter(F.col("df") <= max_df).select("shingle")
    # The capped stream feeds THREE independent consumers downstream (pair
    # join a-side, b-side, per-doc sizes); unpersisted, each re-runs the
    # explode + freq + rare join (r11 optimization: stage-isolated at sf10
    # the re-derivation cost ~5 s per consumer on a 35 s entry — persist +
    # eager populate cuts the capped family ~20-30%). Rows are (id, shingle)
    # longs — ~16 B/row, MEMORY_AND_DISK spills at scale.
    capped, _ = owned_persist(sh.join(rare, "shingle"))
    sizes = capped.groupBy("id").agg(F.count("*").alias("sz"))
    return capped, sizes


def _record_cap_obs(diag: dict | None, name: str, obs) -> None:
    """File a cap Observation in the caller's diag dict under its own name
    (``shingle_df_cap_<generator>`` / ``substring_occ_cap`` /
    ``lsh_bucket_cap``) — one key per cap, so one diag dict shared across two
    capped generators cannot last-write-wins-clobber a metric (the
    cross-wiring class the removed module globals had). Reusing the SAME
    generator twice on one dict is still a collision and raises."""
    if diag is None:
        return
    if name in diag:
        raise ValueError(
            f"diag already holds a {name!r} observation — pass a fresh dict "
            "per capped plan (or a distinct generator name)"
        )
    diag[name] = obs


def cap_counter(diag: dict, name: str | None = None) -> dict:
    """Metrics of a capped pair-generator action, read from the ``diag``
    dict the generator filled (df cap: {'df_dropped_shingles',
    'df_dropped_rows'}; occurrence cap: {'occ_dropped_grams',
    'occ_dropped_rows'}; LSH bucket cap: {'lsh_dropped_buckets',
    'lsh_dropped_ids'}). Entries are keyed by observation name; pass
    ``name`` when the dict holds more than one (one diag shared across
    several generators), omit it for the common single-generator case.
    Read AFTER an action on the generator's returned frame —
    Observation.get blocks until the plan has run."""
    from pyspark.sql import Observation

    if name is not None:
        obs = diag.get(name)
        return dict(obs.get) if obs is not None else {}
    found = [(k, v) for k, v in diag.items() if isinstance(v, Observation)]
    if not found:
        return {}
    if len(found) > 1:
        raise ValueError(
            "diag holds observations "
            f"{sorted(k for k, _ in found)!r} — name the one to read"
        )
    return dict(found[0][1].get)


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    diag: dict | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold (id_a < id_b).

    Join-on-shingle → count intersections → Jaccard from per-doc set sizes.
    ``max_df`` drops ubiquitous shingles before pairing (document-frequency
    cap) — essential at corpus scale, off by default for oracle parity;
    with ``diag`` given, drop metrics land there (:func:`cap_counter`).
    """

    # a-side, b-side, and sizes all read the shingle frame; no exchange
    # reuse across them (measured 8 corpus scans unpersisted) — persist once
    sh_arr, _ = owned_persist(shingle_arrays(df, n, id_col, text_col))
    sh = sh_arr.select("id", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        sh, sizes = _df_capped_shingles(sh, max_df, diag=diag)
    else:
        # set size is the per-row array length — no aggregation shuffle
        sizes = sh_arr.select("id", F.size("shingles").cast("long").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            fround(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _duck_capped_shingle_ctes(
    table: str, n: int, id_col: str, text_col: str, max_df: int | None
) -> str:
    """Shared sh/sizes CTE prelude for the shingle-join oracles; with
    ``max_df``, the df cap and capped-universe sizes mirror
    :func:`_df_capped_shingles` exactly."""
    if max_df is None:
        return f"""
        sh AS ({duck_shingles(table, n, id_col, text_col)}),
        sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id)"""
    return f"""
        sh0 AS ({duck_shingles(table, n, id_col, text_col)}),
        dfreq AS (SELECT shingle FROM sh0 GROUP BY shingle
                  HAVING count(*) <= {max_df}),
        sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN dfreq USING (shingle)),
        sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id)"""


def duckdb_ngram_jaccard(
    table: str, n: int = 3, threshold: float = 0.4,
    id_col: str = "doc_id", text_col: str = "text",
    max_df: int | None = None,
) -> str:
    return f"""
        WITH {_duck_capped_shingle_ctes(table, n, id_col, text_col, max_df)},
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               {duck_fround('inter / (sa.sz + sb.sz - inter)', 4)} AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE {duck_fround('inter / (sa.sz + sb.sz - inter)', 4)} >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


_MINHASH_P = 2_147_483_647  # 2^31 − 1 (Mersenne prime)


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients (a_i, b_i) for
    h_i(x) = (a_i·h(x) + b_i) mod P — derived from md5 in Python so the Spark
    plan and the DuckDB oracle embed the SAME literals."""
    return [
        (md5_60(f"a:{i}") % (_MINHASH_P - 1) + 1, md5_60(f"b:{i}") % _MINHASH_P)
        for i in range(num_hashes)
    ]


def minhash_shingles(
    df: DataFrame,
    n: int,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, shingles, sig) per document: :func:`shingle_arrays`' kernel
    with the MinHash signature folded in the same pass, entirely map-side
    (signatures are embarrassingly parallel — no shuffle).

    The base hash is the interned 60-bit shingle value itself (md5 applied
    ONCE at shingle creation), reduced mod P, then ``num_hashes`` affine
    permutations (a_i·h + b_i) mod P with :func:`_minhash_coeffs`' literals;
    sig[i] = min over the document's shingles of permutation i. The
    signature rides next to the shingle array it came from, so one row
    carries everything the LSH buckets and their verify need."""
    return _shingle_scan(df, n, id_col, text_col, _minhash_coeffs(num_hashes))


def _check_banding(num_hashes: int, rows_per_band: int) -> None:
    if num_hashes % rows_per_band != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of rows_per_band "
            f"({rows_per_band}): a partial final band would band differently "
            "on the Spark and DuckDB sides"
        )


def banded_signatures(
    sig: DataFrame, num_hashes: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """One row per (document, band) of a signature frame: every column but
    ``sig``, plus ``band`` (int) and ``bkey`` (array<long>, the band's
    ``rows_per_band`` signature values in order). Built by plain array
    element access ``sig[b·r + i]`` — no higher-order lambdas and no string
    key. Shared by the symmetric bucket generator (:func:`minhash_lsh_pairs`)
    and the cross-side broadcast probe (plans.dedup_sim.decontaminate_near_dup,
    where one side is tiny and the bucket groupBy would be the wrong shape).
    ``num_hashes`` must be a multiple of ``rows_per_band`` (a partial final
    band would band differently in the DuckDB twin)."""
    _check_banding(num_hashes, rows_per_band)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array(
                    *[F.col("sig")[b * rows_per_band + i] for i in range(rows_per_band)]
                ).alias("bkey"),
            )
            for b in range(num_hashes // rows_per_band)
        ]
    )
    keep = [c for c in sig.columns if c != "sig"]
    return sig.select(*keep, F.inline(bands))


_VERIFY_BLOCK = 1 << 22  # incidence-matrix elements per matmul block
_VERIFY_FLUSH = 1 << 16  # verified pairs per yielded Arrow batch


def _bucket_intersections(ids, sz, flat, split=None, block=_VERIFY_BLOCK):
    """``(a, b, inter)`` for the member pairs of one LSH bucket that share
    a shingle: ``a``/``b`` index the members, ``ids[a] < ids[b]``, and
    ``inter = |A ∩ B|``. ``ids`` and ``sz`` hold each member's id and
    shingle count, ``flat`` their (distinct) shingle arrays concatenated.
    With ``split`` only pairs ``ids[a] < split <= ids[b]`` are computed.

    Every pair's intersection is one entry of M·Mᵀ, M the k × U 0/1
    incidence matrix over the bucket's U distinct shingles (a Python set
    intersection per pair costs ~12× more at k = 40). M is built in
    column blocks of at most ``block`` elements (16 MiB of float32 at the
    default), so a bucket of long, unrelated documents never holds k × U
    at once; a block's sums are at most its width, below 2^24, so float32
    is exact, and the blocks add up in int64. What stays is the k × k
    count matrix — the size of the pair set the bucket can emit."""
    import numpy as np

    k = len(ids)
    if split is None:
        left = right = np.arange(k)
    else:
        left = np.flatnonzero(ids < split)
        right = np.flatnonzero(ids >= split)
    if not len(left) or not len(right) or not len(flat):
        e = np.zeros(0, dtype=np.int64)
        return e, e, e
    order = np.argsort(flat, kind="stable")
    srt = flat[order]
    col = np.zeros(len(srt), dtype=np.int64)
    np.cumsum(srt[1:] != srt[:-1], out=col[1:])
    member = np.repeat(np.arange(k), sz)[order]
    u = int(col[-1]) + 1
    width = max(1, block // k)
    counts = np.zeros((len(left), len(right)), dtype=np.int64)
    for c0 in range(0, u, width):
        lo, hi = np.searchsorted(col, [c0, c0 + width])
        M = np.zeros((k, min(width, u - c0)), dtype=np.float32)
        M[member[lo:hi], col[lo:hi] - c0] = 1.0
        if split is None:
            counts += (M @ M.T).astype(np.int64)
        else:
            counts += (M[left] @ M[right].T).astype(np.int64)
    if split is None:
        counts = np.triu(counts, 1)
    i, j = np.nonzero(counts)
    a, b, inter = left[i], right[j], counts[i, j]
    swap = ids[a] > ids[b]
    a, b = np.where(swap, b, a), np.where(swap, a, b)
    keep = ids[a] < ids[b]
    return a[keep], b[keep], inter[keep]


def _verify_bucket_pairs(buckets: DataFrame, split: int | None = None) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b) for every pair id_a < id_b of each
    bucket's ``docs`` (array<struct<id long, shingles array<long>>>) that
    shares at least one shingle; ``inter = |A ∩ B|`` — the shingle arrays
    are distinct already, so this is ``size(array_intersect(A, B))`` — and
    ``sz`` is each array's length. A pair that shares several buckets is
    emitted once per bucket; the caller dedupes. With ``split``, only pairs
    id_a < split <= id_b (:func:`_bucket_intersections`).

    Memory per Python worker: one bucket row (its k shingle arrays), its
    k × k counts and one incidence block; verified pairs go out in batches
    of about ``_VERIFY_FLUSH`` rows, so a batch of buckets never gathers its
    whole pair volume."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    src = buckets.select("docs")
    names = ["id_a", "id_b", "inter", "sz_a", "sz_b"]

    def kernel(batches):
        out: list[list[np.ndarray]] = [[] for _ in names]
        pending = 0
        for rb in batches:
            col = rb.column(0)
            lens = pc.list_value_length(col).to_numpy().astype(np.int64)
            ids_arr, sh_arr = pc.list_flatten(col).flatten()
            ids = ids_arr.to_numpy().astype(np.int64, copy=False)
            sz = pc.list_value_length(sh_arr).to_numpy().astype(np.int64)
            flat = pc.list_flatten(sh_arr).to_numpy()
            m_off = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=m_off[1:])
            v_off = np.zeros(len(sz) + 1, dtype=np.int64)
            np.cumsum(sz, out=v_off[1:])
            for m0, m1 in zip(m_off[:-1].tolist(), m_off[1:].tolist()):
                bid, bsz = ids[m0:m1], sz[m0:m1]
                a, b, inter = _bucket_intersections(
                    bid, bsz, flat[v_off[m0] : v_off[m1]], split
                )
                for acc, v in zip(out, (bid[a], bid[b], inter, bsz[a], bsz[b])):
                    acc.append(v)
                pending += len(a)
                if pending >= _VERIFY_FLUSH:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(np.concatenate(acc)) for acc in out], names=names
                    )
                    out = [[] for _ in names]
                    pending = 0
        if pending:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(acc)) for acc in out], names=names
            )

    return src.mapInArrow(
        kernel, schema="id_a long, id_b long, inter long, sz_a long, sz_b long"
    )


def expand_bucket_pairs(buckets: DataFrame, ids_col: str = "ids") -> DataFrame:
    """One row per unordered pair (id_a < id_b) from each bucket's sorted id
    array — the in-row pair expansion shared by every bucket-first candidate
    generator (LSH bands, winnow fingerprints, co-purchase baskets). Pairs
    sharing multiple buckets appear once per bucket; callers either
    ``distinct()`` (candidate semantics) or ``groupBy().count()``
    (shared-bucket counting). Row ORDER is not part of the contract — every
    consumer aggregates.

    Arrow-kernel path (r12, guide §4.2): the expression formulation
    (:func:`expand_bucket_pairs_expr`, kept as the equality anchor) is a
    transform/slice/flatten higher-order chain that Catalyst evaluates
    interpreted per ELEMENT with a struct allocation per pair (the r11
    shingle-kernel lesson: ~µs/element); at the co-purchase fixture that is
    ~10^8 pair expansions per pass. The kernel flattens each Arrow list
    batch zero-copy, groups buckets by length, and emits every
    (i < j) combination as two numpy gathers per length group — the same
    pair multiset, no per-pair interpreter work. ``ids_col`` must be
    ``array<bigint>`` (every caller's id type); any other type raises
    ``TypeError``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import ArrayType, LongType

    elem = buckets.schema[ids_col].dataType
    if not (
        isinstance(elem, ArrayType) and isinstance(elem.elementType, LongType)
    ):
        raise TypeError(
            f"expand_bucket_pairs needs {ids_col!r} as array<bigint>, "
            f"got {elem.simpleString()}"
        )

    # project to the single needed column BEFORE the opaque map node
    # (guide §4.1: Spark cannot prune through mapInArrow)
    src = buckets.select(F.col(ids_col).alias("ids"))

    def kernel(batches):
        comb: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for rb in batches:
            col = rb.column(0)
            if col.null_count:
                col = pc.fill_null(col, [])
            lens = pc.list_value_length(col).to_numpy().astype(np.int64)
            flat = pc.list_flatten(col).to_numpy()
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            for k in np.unique(lens):
                if k < 2:
                    continue
                idx = np.nonzero(lens == k)[0]
                # (n_k, k) gather of every length-k bucket, then one fancy
                # index per pair position; yielded per length group so a
                # single batch never concatenates its whole pair volume
                M = flat[starts[idx][:, None] + np.arange(k)[None, :]]
                ci = comb.get(k)
                if ci is None:
                    ci = np.triu_indices(k, 1)
                    comb[k] = ci
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(M[:, ci[0]].ravel(), type=pa.int64()),
                        pa.array(M[:, ci[1]].ravel(), type=pa.int64()),
                    ],
                    names=["id_a", "id_b"],
                )

    return src.mapInArrow(kernel, schema="id_a long, id_b long")


def expand_bucket_pairs_expr(buckets: DataFrame, ids_col: str = "ids") -> DataFrame:
    """Expression-only pair expansion — the correctness anchor for
    :func:`expand_bucket_pairs`'s Arrow kernel (bit-equality pinned in
    tests/test_operators.py)."""
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids_col) - 1),
            lambda i: F.transform(
                F.slice(F.col(ids_col), i + 1, F.size(ids_col) - i),
                lambda y: F.struct(
                    F.element_at(F.col(ids_col), i).alias("id_a"), y.alias("id_b")
                ),
            ),
        )
    )
    return buckets.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    diag: dict | None = None,
    split: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: one scan, one bucket shuffle, one
    dedupe shuffle. Output (id_a, id_b, jaccard) with id_a < id_b, the pairs
    that share a band bucket and whose exact shingle Jaccard is ≥
    ``threshold``.

    - Scan: :func:`minhash_shingles` emits (id, shingles, sig) per document
      in one map-side kernel; :func:`banded_signatures` turns it into one
      (band, bkey) row per band, each still carrying the shingle array.
    - Bucket shuffle: ``groupBy(band, bkey)`` collects (id, shingles) per
      bucket; buckets of one document drop out.
    - Verify: :func:`_verify_bucket_pairs` intersects the shingle sets of
      every pair inside its bucket row, so a candidate never needs a join
      back to the shingle frame (no persist, no verify joins). Zero-overlap
      pairs are dropped to match the oracle's inner shingle join.
    - Dedupe shuffle: a pair that shares several bands is verified once per
      band; ``distinct()`` after the threshold filter keeps it once.

    The trade-off: the bucket shuffle carries each document's shingle array
    once per band (``num_hashes / rows_per_band`` copies) instead of 16-byte
    (band key, id) rows plus two id-keyed verify joins, and one bucket row
    holds its k members' shingle arrays (the verify kernel's memory bound is
    in :func:`_bucket_intersections`). With no cache reused between runs it
    measured faster at every size tried (500 to 500k documents); SCALE.md
    has the rows.

    ``split`` restricts the output to pairs id_a < split <= id_b — an
    incremental batch (ids >= split) checked against the corpus before it.
    It is the same plan: buckets with no member on one side are filtered
    out before the verify kernel, and the kernel intersects only cross-side
    pairs.

    ``max_bucket_size`` caps degenerate hot buckets (boilerplate-heavy
    corpora co-bucket thousands of near-identical docs, and pair expansion
    over them is k² noise): buckets with more members than the cap are
    DROPPED before verification — their members still surface through the
    remaining bands or the exact-dedup pass. Dropped buckets are counted by
    the ``lsh_bucket_cap`` observation filed in the caller's ``diag``
    (``lsh_dropped_buckets`` / ``lsh_dropped_ids``, read with
    :func:`cap_counter` after an action). ``num_hashes`` must be a multiple
    of ``rows_per_band`` (partial-band semantics differ between the Spark
    slice and the DuckDB oracle, so uneven banding is rejected outright).
    """
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2")
    banded = banded_signatures(
        minhash_shingles(df, n, num_hashes, id_col, text_col),
        num_hashes,
        rows_per_band,
    )
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.collect_list(F.struct("id", "shingles")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_bucket_size is not None:
        buckets, obs = with_counter(
            buckets,
            "lsh_bucket_cap",
            F.sum((F.size("docs") > max_bucket_size).cast("long")).alias(
                "lsh_dropped_buckets"
            ),
            F.sum(
                F.when(F.size("docs") > max_bucket_size, F.size("docs")).otherwise(0)
            ).alias("lsh_dropped_ids"),
        )
        _record_cap_obs(diag, "lsh_bucket_cap", obs)
        buckets = buckets.filter(F.size("docs") <= max_bucket_size)
    if split is not None:
        buckets = buckets.filter(
            (F.array_min("docs.id") < split) & (F.array_max("docs.id") >= split)
        )
    return (
        _verify_bucket_pairs(buckets, split)
        .withColumn(
            "jaccard",
            fround(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )


def duck_minhash_bands(
    table: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`minhash_shingles` + :func:`banded_signatures`
    as a CTE prelude: ``sh`` (id, shingle) rows and ``banded`` (id, band,
    bkey) with ``bkey`` the band's signature values as a list in seed
    order."""
    _check_banding(num_hashes, rows_per_band)
    coeffs = _minhash_coeffs(num_hashes)
    perm_rows = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    return f"""
        sh AS ({duck_shingles(table, n, id_col, text_col)}),
        perms(seed, a, b) AS (VALUES {perm_rows}),
        sig AS (
            SELECT id, seed,
                   min((a * (shingle % {_MINHASH_P}) + b) % {_MINHASH_P}) AS mh
            FROM sh, perms
            GROUP BY id, seed
        ),
        banded AS (
            SELECT id, CAST(seed // {rows_per_band} AS INT) AS band,
                   list(mh ORDER BY seed) AS bkey
            FROM sig GROUP BY 1, 2
        )"""


def duckdb_minhash_lsh(
    table: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> str:
    return f"""
        WITH {duck_minhash_bands(table, n, num_hashes, rows_per_band, id_col, text_col)},
        kept AS (
            -- bucket-size cap: buckets with more co-bucketed ids than the cap
            -- are DROPPED before pair expansion (minhash_lsh_pairs'
            -- max_bucket_size rule); uncapped = every >=2 bucket kept
            SELECT band, bkey FROM banded GROUP BY band, bkey
            HAVING count(*) >= 2{f" AND count(*) <= {max_bucket_size}" if max_bucket_size is not None else ""}
        ),
        cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
            JOIN kept k ON k.band = a.band AND k.bkey = a.bkey
        ),
        sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               {duck_fround('i.inter / (sa.sz + sb.sz - i.inter)', 4)} AS jaccard
        FROM inter i
        JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
        JOIN sizes sa ON sa.id = i.id_a
        JOIN sizes sb ON sb.id = i.id_b
        WHERE {duck_fround('i.inter / (sa.sz + sb.sz - i.inter)', 4)} >= {threshold}
    """


# ---------------------------------------------------------------------------
# exact-substring dedup (duplicate spans >= k tokens, Lee et al. 2022)
# ---------------------------------------------------------------------------


def positional_grams_expr(
    df: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Expression-fold reference for :func:`positional_grams` — the original
    (id, pos, gh) k-gram stream, kept as the bit-equality twin the kernel is
    pinned against (the shingle_arrays/shingle_arrays_expr pattern)."""
    from ..session import ensure_parallelism

    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= k)
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (k - 1)),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            md5_long(F.array_join(F.slice("toks", i, k), " ")).alias("gh"),
        ),
    )
    return (
        base.select("id", F.explode(gram_structs).alias("g"))
        .select("id", "g.pos", "g.gh")
    )


def positional_grams(
    df: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional k-gram stream (id, pos, gh) — Arrow-kernel path,
    bit-identical to :func:`positional_grams_expr` (test-pinned). ``pos`` is
    1-based, ``gh`` the 60-bit md5 intern (``md5np.md5_60`` == ``md5_long``
    on identical UTF-8 bytes). Same rationale and structure as
    :func:`shingle_arrays`: the interpreted slice/array_join/md5/conv chain
    per gram was the dominant cost of the exact-substring family's wall
    (stage-isolated at sf10), the kernel hashes each gram once in C through
    the shared :class:`md5np.Md5Intern` and EXPLODES IN PYTHON (one output
    row per gram), removing the JVM struct-array explode as well. Map-side,
    zero exchanges."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from ..session import ensure_parallelism

    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id", id_type, False),
            StructField("pos", LongType(), False),
            StructField("gh", LongType(), False),
        ]
    )
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )

    def kernel(batches):
        intern = Md5Intern()
        for pdf in batches:
            if not len(pdf):
                continue
            ids: list = []
            poss: list[int] = []
            ghs: list[int] = []
            id_vals = pdf["id"]
            for row, hs in _doc_gram_hashes(pdf["text"], k, intern):
                ids.extend([id_vals.iloc[row]] * len(hs))
                poss.extend(range(1, len(hs) + 1))
                ghs.extend(hs)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=id_vals.dtype),
                    "pos": pd.Series(poss, dtype="int64"),
                    "gh": pd.Series(ghs, dtype="int64"),
                }
            )

    return base.mapInPandas(kernel, schema=schema)


def exact_substring_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occ: int | None = None,
    diag: dict | None = None,
) -> DataFrame:
    """Exact-substring duplicate spans (Deduplicating Training Data Makes
    Language Models Better, Lee et al. 2022 — the ExactSubstr pass): every
    maximal token run of length >= ``k`` shared verbatim between two
    documents, with positions, so callers can CUT the duplicated text (the
    paper's remediation) rather than just score it
    (:func:`plans.index_sketch.dedup_substring_spans` is the per-doc
    fraction metric; this emits the spans themselves).

    Spark-first re-expression of the paper's suffix-array method: a
    positional k-token-gram anchor join. Each doc emits (pos, gram) for
    every k-gram (map-side; grams interned as 60-bit md5 longs exactly like
    :func:`shingle_arrays`, so the equi-join moves 8-byte keys); the
    gram-key self-join (doc_a < doc_b) yields match anchors; anchors on the
    same alignment diagonal (pos_a - pos_b) with consecutive pos_a belong to
    one duplicated run, merged via the classic island trick
    (pos_a - row_number() per (pair, diagonal)) into maximal spans:
    start_a/start_b/span_tokens. A run of length L >= k produces L-k+1
    consecutive anchors on one diagonal, hence ONE output span of exactly L
    tokens — equivalent to the suffix-array scan's output on cross-doc
    duplicates without ever materializing a global suffix sort (which would
    be one giant order-by at 100 TB; the anchor join shuffles only gram
    keys and is output-bound after the cap).

    ``max_occ`` is the 100 TB governance knob (production twin): grams whose
    TOTAL corpus occurrence count exceeds it are dropped before the join.
    Occurrence cap, not document-frequency cap, because the positional join
    is quadratic in per-gram occurrences — a gram repeated m times (even
    inside ONE hot document pair: boilerplate headers, repeated lines)
    contributes m^2 anchor rows; occ <= max_occ bounds every gram's fan-out
    to max_occ^2 regardless of how occurrences distribute over docs.
    Dropping a ubiquitous middle gram can SPLIT a long span into two
    (governed recall trade-off, same posture as the LSH bucket cap); dropped
    volume is observable via :func:`cap_counter` over ``diag``
    (per-call, like connected_components' diag — no module global). Uncapped
    is the
    recall anchor; the capped twin is the production configuration
    (SCALE.md).
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("k must be >= 2")
    g = positional_grams(df, k, id_col=id_col, text_col=text_col)
    # both self-join sides (and, when capping, the frequency agg) read the
    # gram stream (persisting measured 4x at sf0.1)
    g, _ = owned_persist(g)
    if max_occ is not None:
        if max_occ < 1:
            raise ValueError("max_occ must be >= 1")
        freq = g.groupBy("gh").agg(F.count("*").alias("occ"))
        freq, obs = with_counter(
            freq,
            "substring_occ_cap",
            F.sum((F.col("occ") > max_occ).cast("long")).alias(
                "occ_dropped_grams"
            ),
            F.sum(F.when(F.col("occ") > max_occ, F.col("occ")).otherwise(0)).alias(
                "occ_dropped_rows"
            ),
        )
        _record_cap_obs(diag, "substring_occ_cap", obs)
        keep = freq.filter(F.col("occ") <= max_occ).select("gh")
        g, _ = owned_persist(g.join(keep, "gh").select("id", "pos", "gh"))
    a = g.select(F.col("id").alias("doc_a"), F.col("pos").alias("pos_a"), "gh")
    b = g.select(F.col("id").alias("doc_b"), F.col("pos").alias("pos_b"), "gh")
    anchors = (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = anchors.withColumn(
        "island", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k)).cast("long").alias(
                "span_tokens"
            ),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


def duckdb_exact_substring(
    table: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occ: int | None = None,
) -> str:
    """DuckDB twin of :func:`exact_substring_spans` — positional gram unnest,
    identical 60-bit interning, same occurrence-cap rule, same island merge."""
    toks = duck_tokens(text_col)
    gram = duck_md5_long(
        f"array_to_string(list_slice(toks, i, i + {k - 1}), ' ')"
    )
    cap_cte = ""
    g_src = "g0"
    if max_occ is not None:
        cap_cte = f""",
        kept AS (SELECT gh FROM g0 GROUP BY gh HAVING count(*) <= {max_occ}),
        g AS (SELECT g0.* FROM g0 JOIN kept USING (gh))"""
        g_src = "g"
    return f"""
        WITH d AS (SELECT {id_col} AS id, {toks} AS toks FROM {table}),
        g0 AS (
            SELECT id,
                   unnest(list_transform(generate_series(1, len(toks) - {k - 1}),
                          i -> {{'pos': CAST(i AS BIGINT), 'gh': {gram}}}),
                          recursive := true)
            FROM d WHERE len(toks) >= {k}
        ){cap_cte},
        anchors AS (
            SELECT ga.id AS doc_a, gb.id AS doc_b,
                   ga.pos AS pos_a, gb.pos AS pos_b,
                   ga.pos - gb.pos AS diag
            FROM {g_src} ga JOIN {g_src} gb ON ga.gh = gb.gh AND ga.id < gb.id
        ),
        isl AS (
            SELECT doc_a, doc_b, diag, pos_a, pos_b,
                   pos_a - row_number() OVER (
                       PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
                   ) AS island
            FROM anchors
        )
        SELECT doc_a, doc_b,
               min(pos_a) AS start_a,
               min(pos_b) AS start_b,
               CAST(max(pos_a) - min(pos_a) + {k} AS BIGINT) AS span_tokens
        FROM isl GROUP BY doc_a, doc_b, diag, island
    """


def exact_substring_cut(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occ: int | None = None,
    diag: dict | None = None,
) -> DataFrame:
    """The REMEDIATION half of ExactSubstr (Lee et al. 2022 §3: "when a
    duplicate is found, we remove it and keep only one occurrence"): cut the
    duplicated token ranges out of each document and return the rewritten
    corpus summary — (doc_id, n_toks, cut_tokens, kept_md5) for EVERY
    document (docs with no duplicated spans pass through with cut_tokens 0).

    Keep-first rule: for each span from :func:`exact_substring_spans`
    (doc_a < doc_b), the doc_a occurrence survives and the doc_b range
    [start_b, start_b + span_tokens) is cut — deterministic, and consistent
    with the suite's other keep-lowest-id rules. Cut ranges from different
    pairs may overlap; they are merged per document with the running-max
    interval-union window (sort by start, a row opens a new island iff its
    start exceeds the max end seen so far) BEFORE counting, so overlapping
    spans never double-bill `cut_tokens`. Reconstruction is in-row: the
    merged interval list for one document is bounded (≤ its span count), so
    the token filter is a nested higher-order expression, never a join per
    token. Scale: everything downstream of the span join is keyed by doc_b —
    one groupBy on the cut side, one left join back to the corpus.
    """
    from pyspark.sql import Window

    spans = exact_substring_spans(df, k=k, id_col=id_col, text_col=text_col,
                                  max_occ=max_occ, diag=diag)
    # DISTINCT is load-bearing, not a tidy-up: the same (s, e) range arrives
    # once per doc_a partner, and duplicate rows make the (s, e) sort order
    # non-total — an engine that evaluates the running-max window and the
    # island-sum window as separate operators (DuckDB does) can order the
    # tied rows differently in each, scrambling island ids so one range
    # spawns two islands and double-bills cut_tokens (caught by the sf1
    # sweep: 134 docs with cut_tokens > n_toks on the oracle side). Unique
    # (s, e) per id restores a total order for every window downstream.
    iv = spans.select(
        F.col("doc_b").alias("id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_tokens") - 1).alias("e"),
    ).distinct()
    w = Window.partitionBy("id").orderBy("s", "e")
    pmax = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = (
        iv.withColumn(
            "new_isl", (F.col("s") > F.coalesce(pmax, F.lit(0))).cast("long")
        )
        .withColumn("isl", F.sum("new_isl").over(w))
    )
    merged = isl.groupBy("id", "isl").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    per_doc = merged.groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("ivs"),
        (F.sum(F.col("e") - F.col("s") + 1)).cast("long").alias("cut_tokens"),
    )
    base = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
    joined = base.join(per_doc, "id", "left")
    ivs = F.coalesce(F.col("ivs"), F.array())
    # Guard the reconstruction for zero-token documents: sequence(1, 0) is
    # the DESCENDING array [1, 0] in Spark (not empty like DuckDB's
    # range(1, 1)), and element_at(toks, 0) then throws
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT, killing the job on a
    # whitespace-only text. An empty doc has nothing to cut; emit [].
    kept = F.when(
        F.size("toks") > 0,
        F.transform(
            F.filter(
                F.sequence(F.lit(1), F.size("toks")),
                lambda i: ~F.exists(ivs, lambda v: (i >= v["s"]) & (i <= v["e"])),
            ),
            lambda i: F.element_at("toks", i),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # No-cut fast path (the overwhelming majority: ~95% of fixture docs have
    # no duplicated span): with no interval row the filter keeps every index
    # and the transform rebuilds `toks` verbatim — paying the interpreted
    # per-token higher-order chain for an identity rewrite. Joining the
    # original array directly is value-identical (including NULL/empty toks,
    # where the old otherwise-branch joined an empty array to ""); CaseWhen
    # evaluates branches lazily, so cut docs alone pay the reconstruction.
    kept_str = F.when(
        F.col("cut_tokens").isNull(),
        F.coalesce(F.array_join("toks", " "), F.lit("")),
    ).otherwise(F.array_join(kept, " "))
    return joined.select(
        F.col("id").alias("doc_id"),
        F.size("toks").cast("long").alias("n_toks"),
        F.coalesce(F.col("cut_tokens"), F.lit(0)).cast("long").alias("cut_tokens"),
        F.md5(kept_str).alias("kept_md5"),
    )


def duckdb_exact_substring_cut(
    table: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occ: int | None = None,
) -> str:
    """DuckDB twin of :func:`exact_substring_cut` — the span SQL nested as a
    subquery, the same interval-union window, the same in-row token filter."""
    spans = duckdb_exact_substring(
        table, k=k, id_col=id_col, text_col=text_col, max_occ=max_occ
    )
    toks = duck_tokens(text_col)
    return f"""
        WITH spans AS (SELECT * FROM ({spans})),
        iv AS (
            -- DISTINCT mirrors the Spark side: duplicate (s, e) rows (one
            -- per doc_a partner) break the total order the windows rely on
            SELECT DISTINCT doc_b AS id, start_b AS s,
                   start_b + span_tokens - 1 AS e
            FROM spans
        ),
        marked AS (
            SELECT id, s, e,
                   CASE WHEN s > coalesce(max(e) OVER (
                            PARTITION BY id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) THEN 1 ELSE 0 END AS new_isl
            FROM iv
        ),
        islands AS (
            SELECT id, s, e,
                   sum(new_isl) OVER (
                       PARTITION BY id ORDER BY s, e ROWS UNBOUNDED PRECEDING
                   ) AS isl
            FROM marked
        ),
        merged AS (
            SELECT id, isl, min(s) AS s, max(e) AS e
            FROM islands GROUP BY id, isl
        ),
        per_doc AS (
            SELECT id,
                   list({{'s': s, 'e': e}}) AS ivs,
                   CAST(sum(e - s + 1) AS BIGINT) AS cut_tokens
            FROM merged GROUP BY id
        ),
        base AS (SELECT {id_col} AS id, {toks} AS toks FROM {table})
        SELECT base.id AS doc_id,
               CAST(len(toks) AS BIGINT) AS n_toks,
               coalesce(cut_tokens, 0) AS cut_tokens,
               md5(coalesce(array_to_string(list_transform(
                   list_filter(range(1, len(toks) + 1), i ->
                       NOT len(list_filter(coalesce(ivs, []), v ->
                           i >= struct_extract(v, 's')
                           AND i <= struct_extract(v, 'e'))) > 0),
                   i -> toks[i]), ' '), '')) AS kept_md5
        FROM base LEFT JOIN per_doc ON base.id = per_doc.id
    """


# ---------------------------------------------------------------------------
# connected components (dedup clusters)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    jump: bool = True,
    diag: dict | None = None,
) -> DataFrame:
    """Dedup clusters: connected components over a near-dup pair graph via
    iterative min-label propagation — the engine's iterative-algorithm
    surface. Output: (doc_id, component) where component = min reachable id,
    a deterministic fixpoint independent of iteration order (hence
    oracle-checkable despite being iterative).

    Each iteration propagates labels along edges (one join + min-aggregate)
    and, with ``jump`` (default), also along the label table itself —
    pointer jumping: ``label(label(v))`` is reachable from v by transitivity,
    and each round doubles the label-graph distance covered, so convergence
    drops from O(component diameter) rounds to O(log diameter) — pinned on a
    40-node path in tests (≤9 rounds vs 40, where the old default
    max_iter=20 would have silently MISconverged). Probing VERDICT r6 item
    3's hypothesis at the sf10 fixture showed the CAPPED near-dup graph is
    not the case that needs it (79 pairs, 2 rounds either way — that entry's
    cost is the pair GENERATOR, measured in the r7 sweep artifact); jumping
    is the insurance for deep chain-shaped clusters (boilerplate ladders)
    whose diameter is data-dependent, at the cost of one extra small join
    whose left side shrinks as nodes converge (``label != id`` rows only).
    Correctness is unchanged: labels are always reachable ids,
    non-increasing, and bounded below by the component minimum, so the
    monotone-sum convergence check and the fixpoint (= min reachable id) are
    the same with or without jumping; equivalence is test-pinned and the
    recursive-CTE oracle is jump-oblivious. The loop's only driver-side step
    is a one-row convergence check.

    Misconvergence is LOUD (ADVICE r7): exhausting ``max_iter`` without the
    sum-converged break raises RuntimeError — returning the last label table
    silently would hand back wrong components (labels above the component
    minimum) on diameters past the round budget, reachable via ``jump=False``
    or pathological chain graphs. ``diag``, when given, is filled per-call
    with ``{"rounds": n, "converged": bool}`` (replaces the old module-level
    round counter, which made concurrent callers corrupt each other).

    Every round's label table is localCheckpointed (eager), which bounds the
    plan depth at one round; force_release_all later reaps the checkpoint
    blocks.
    """
    from pyspark import StorageLevel

    # Symmetrize in ONE pass over the pair generator: an in-row explode of
    # both orientations. The previous union-of-two-selects shape computed the
    # (expensive — shingle join / LSH chain) generator once per branch; the
    # explode reads it once and doubles rows map-side.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)  # reused every iteration
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Size the per-iteration shuffles from the data, not the session default:
    # under the driver's plain session (200 shuffle partitions) a tiny graph
    # would otherwise pay 200-task overhead per round, ~|edges|/2M partitions
    # keeps rounds dense at any scale.
    n_edges = edges.count()
    nparts = int(max(8, min(2048, n_edges // 2_000_000 + 8)))
    prev_sum = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
    rounds = 0
    converged = False
    for _ in range(max_iter):
        # Persist each round and truncate lineage — without this, iteration k
        # re-executes all k-1 previous joins from scratch (measured 68s → 3s
        # at sf0.1) and the plan grows unboundedly.
        cands = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), "label"
        ).union(labels)
        if jump:
            l2 = labels.select(
                F.col("id").alias("l_id"), F.col("label").alias("l2")
            )
            jumped = (
                labels.filter(F.col("label") != F.col("id"))
                .join(l2, F.col("label") == F.col("l_id"))
                .select("id", F.col("l2").alias("label"))
            )
            cands = cands.union(jumped)
        prop = (
            cands
            .repartition(nparts, "id")  # groupBy reuses this exchange
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        rounds += 1
        prop = prop.localCheckpoint(eager=True)
        new_sum = prop.agg(F.sum("label").alias("s")).collect()[0]["s"]
        labels.unpersist()
        labels = prop
        if new_sum == prev_sum:  # min-label sum strictly decreases until fixpoint
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if diag is not None:
        diag["rounds"] = rounds
        diag["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds (label sum still decreasing after round {rounds}); "
            "labels would be silently wrong — raise max_iter or keep jump=True "
            "(O(log diameter) rounds)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


def duckdb_connected_components(pairs_sql: str) -> str:
    """Recursive-CTE oracle: component = min reachable id over the pair graph
    (UNION dedup guarantees termination; near-dup clusters are tiny)."""
    return f"""
        WITH RECURSIVE
        pairs AS ({pairs_sql}),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, q.r FROM edges e JOIN reach q ON q.id = e.dst
        )
        SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash32(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct whitespace tokens.

    bit b of token-hash h (32-bit md5 prefix) is floor(h / 2^b) % 2 — exact in
    double arithmetic since h < 2^32 < 2^53, hence portable. Bit b of the
    simhash is set iff sum over tokens of (+1 if bit set else -1) > 0.

    Entirely MAP-SIDE: the 32 bit contributions fold inside each document's
    distinct-token array (aggregate + zip_with over a 32-long accumulator), so
    the plan has zero exchanges — the earlier formulation exploded tokens × 32
    bit-rows into a groupBy(id, b), a 32× pre-shuffle inflation that this
    folds away. Documents whose token array is empty are omitted, matching
    the explode-based formulation and the DuckDB unnest oracle.
    """
    hashes = F.transform(
        F.array_distinct(tokens(F.col(text_col))), lambda t: md5_int32(t)
    )
    bit_range = F.sequence(F.lit(0), F.lit(31))
    zero = F.lit(0).cast("long")
    bit_sums = F.aggregate(
        hashes,
        F.array_repeat(zero, 32),
        lambda acc, h: F.zip_with(
            acc,
            bit_range,
            lambda a, b: a
            + F.when(
                (F.floor(h / F.pow(F.lit(2.0), b)).cast("long") % 2) == 1,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long")),
        ),
    )
    simhash = F.aggregate(
        F.zip_with(
            bit_sums,
            bit_range,
            lambda s, b: F.when(s > 0, F.pow(F.lit(2.0), b).cast("long")).otherwise(zero),
        ),
        zero,
        lambda a, x: a + x,
    )
    return df.filter(F.size(tokens(F.col(text_col))) > 0).select(
        F.col(id_col).alias("id"), simhash.alias("simhash")
    )


def duckdb_simhash32(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    toks = duck_tokens(text_col)
    h = duck_md5_int32("tok")
    return f"""
        WITH toks AS (
            SELECT DISTINCT {id_col} AS id, unnest({toks}) AS tok FROM {table}
        ),
        bits AS (
            SELECT id, b,
                   sum(CASE WHEN CAST(floor({h} / power(2, b)) AS BIGINT) % 2 = 1
                            THEN 1 ELSE -1 END) AS s
            FROM toks, range(0, 32) t(b)
            GROUP BY id, b
        )
        SELECT id, CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY id
    """


def simhash_hamming_pairs(
    df: DataFrame,
    radius: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup PAIRS within a Hamming radius — the search half of
    :func:`simhash32` (which only fingerprints).

    Classic banded exact-match (the web-dedup construction): split the
    32-bit fingerprint into ``radius + 1`` byte-aligned bands — by
    pigeonhole, two fingerprints within Hamming distance ``radius`` agree
    EXACTLY on at least one band — then generate candidates with an
    EQUI-SELF-JOIN on (band index, band value) and verify with
    ``bit_count(a XOR b) <= radius``.

    Unlike the shingle-backed LSH generators, candidates here deliberately
    do NOT use the groupBy + collect_set + in-row pair expansion shape: a
    simhash band is only ~8 bits wide, so bucket populations scale as
    n/2^width — at 50k docs the r4 sf1 sweep saw collect_set build
    multi-thousand-id arrays whose in-row k² pair expansion OOMed the
    executor heap outright. The equi-join produces the same pair set but
    STREAMS through the hash join and spills; nothing is materialized per
    row. The bucket-first shape stays correct for LSH, whose banded
    signatures are ~wide-unique and whose upstream shingle chain makes join
    re-computation expensive — here the joined frame is the one-row-per-doc
    banded fingerprint off a persisted base, so the join costs one shuffle
    of (band, bval, id). ``max_bucket_size`` still guards the degenerate
    boilerplate case (oversized buckets dropped BEFORE the join, same
    semantics as :func:`minhash_lsh_pairs`' bucket cap).

    radius must be 1..7 so bands stay byte-sized on a 32-bit fingerprint
    (radius+1 bands of ceil(32/(radius+1)) bits; bands are taken as equal
    bit-slices). Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    if not 1 <= radius <= 7:
        raise ValueError("radius must be in 1..7 for a 32-bit fingerprint")
    num_bands = radius + 1
    width = (32 + num_bands - 1) // num_bands  # bits per band (last may be short)

    # simhash32 is a pure map-side fold (tokenize + per-token md5 + 32-bit
    # fold) consumed THREE times below (banding + both verify sides); with no
    # exchange in its plan Spark recomputes it once per consumer — persist it
    # (measured ~15% at sf0.1: the verify join over ~1.5M candidate pairs
    # dominates on the synthetic word-soup corpus, so the shingle-persist
    # lesson applies but with a smaller constant than containment's 4x).
    sims, _ = owned_persist(simhash32(df, id_col=id_col, text_col=text_col))
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda j: F.struct(
            j.cast("int").alias("band"),
            (
                F.floor(F.col("simhash") / F.pow(F.lit(2.0), j * width)).cast("long")
                % (2 ** width)
            ).alias("bval"),
        ),
    )
    banded = sims.select("id", "simhash", F.explode(bands).alias("bb")).select(
        "id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    )
    if max_bucket_size is not None:
        kept = (
            banded.groupBy("band", "bval")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .select("band", "bval")
        )
        banded = banded.join(kept, ["band", "bval"])
    x = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sim_a"), "band", "bval"
    )
    y = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sim_b"), "band", "bval"
    )
    # carry both fingerprints through the band join so the verify is a
    # per-row bit_count — no second join back to sims, no per-row pair arrays
    return (
        x.join(y, ["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
        .distinct()
    )


def duckdb_simhash_hamming_pairs(
    table: str,
    radius: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`simhash_hamming_pairs` — same bands, same
    pigeonhole bucketing, same bit_count(xor) verify."""
    num_bands = radius + 1
    width = (32 + num_bands - 1) // num_bands
    return f"""
        WITH sims AS ({duckdb_simhash32(table, id_col, text_col)}),
        banded AS (
            SELECT id, j AS band,
                   CAST(floor(simhash / power(2, j * {width})) AS BIGINT)
                       % {2 ** width} AS bval
            FROM sims, range(0, {num_bands}) t(j)
        ),
        cands AS (
            SELECT DISTINCT x.id AS id_a, y.id AS id_b
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.bval = y.bval AND x.id < y.id
        )
        SELECT c.id_a, c.id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM cands c
        JOIN sims a ON a.id = c.id_a
        JOIN sims b ON b.id = c.id_b
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {radius}
    """


def _simhash64_bands(radius: int) -> list[tuple[int, int]]:
    """(offset, width) of the ``radius + 1`` bit-slices of the 63-bit
    fingerprint, widest first (63 = 4x16 doesn't divide; pigeonhole only
    needs the bands to PARTITION the bits, not to be equal)."""
    num_bands = radius + 1
    base, rem = divmod(63, num_bands)
    widths = [base + (1 if j < rem else 0) for j in range(num_bands)]
    offsets = [sum(widths[:j]) for j in range(num_bands)]
    return list(zip(offsets, widths))


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """63-bit SimHash — the SCALE path of :func:`simhash32`.

    Why it exists: a 32-bit fingerprint is semantically inadequate past
    ~100k docs. Its radius-3 bands are only 8 bits wide, so bucket
    populations grow as n/256 and candidate generation is effectively
    quadratic — AND the fingerprint itself saturates: at n = 500k docs the
    EXPECTED number of random (non-duplicate) pairs within Hamming 3 of a
    32-bit hash is C(n,2) * sum_k<=3 C(32,k) / 2^32 ~ 160M, so most reported
    "near-dups" are hash noise, not similar documents (the r5 sf10 sweep
    measured exactly this blow-up). 63 bits gives 15/16-bit bands (bucket
    population n/2^15) and a random-collision expectation of ~1e-3 pairs at
    the same n — the standard production configuration (Manku et al., WWW'07
    use 64-bit simhash, k=3).

    63 rather than 64 bits keeps every value in non-negative BIGINT range on
    both engines (bit 63 is the sign bit; Spark ANSI mode errors on signed
    overflow, DuckDB has no unsigned BIGINT in its default arithmetic), so
    shifts/masks/xor/bit_count all stay exact and portable. Token hash = two
    independent 32-bit md5 words (hex chars 1-8 and 9-16), one md5 call.

    Bit extraction is (word >> b) & 1 with b unrolled as a Python literal —
    exact integer ops on both engines, identical to the old
    floor(word / 2^b) % 2 formulation for all non-negative words < 2^32.
    The unrolled-literal form matters at scale: higher-order-function
    lambdas run interpreted, and the previous zip_with-over-63-bits fold
    paid an interpreted Math.pow + double round-trip per (token, bit) —
    ~1.7B of them at the sf10 fixture, dominating the entry's runtime
    (found by the r5 sf10 sweep). Instead ONE fold carries a 64-slot
    accumulator (63 one-bit counts + the token count) with two cheap long
    ops per (token, bit), and the fold's finish lambda assembles the
    fingerprint — md5 runs once per token, the accumulator is referenced
    only through lambda variables, so nothing re-evaluates.

    Entirely map-side, zero exchanges, same fold shape as simhash32.
    """
    hashes = F.transform(
        F.array_distinct(tokens(F.col(text_col))),
        lambda t: F.struct(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long").alias("lo"),
        ),
    )
    zero = F.lit(0).cast("long")

    def step(acc, h):
        slots = [
            F.element_at(acc, b + 1)
            + F.shiftright(h["lo" if b < 32 else "hi"], b % 32).bitwiseAND(F.lit(1))
            for b in range(63)
        ]
        return F.array(*slots, F.element_at(acc, 64) + F.lit(1).cast("long"))

    def finish(acc):
        # bit b set iff vote sum > 0 iff 2*ones(b) > ntok (slot 64)
        out = zero
        for b in range(63):
            out = out + F.when(
                F.element_at(acc, b + 1) * 2 > F.element_at(acc, 64),
                F.lit(1 << b).cast("long"),
            ).otherwise(zero)
        return out

    simhash = F.aggregate(hashes, F.array_repeat(zero, 64), step, finish)
    return df.filter(F.size(tokens(F.col(text_col))) > 0).select(
        F.col(id_col).alias("id"), simhash.alias("simhash")
    )


def simhash64_kernel(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Arrow-kernel twin of :func:`simhash64` — bit-identical by construction
    (every operation is exact integer arithmetic, so unlike the float-fold
    kernels there is no IEEE-op-order subtlety; equality is pinned in
    tests/test_operators.py against the expression fold on adversarial
    whitespace fixtures).

    Why it exists: the expression fold, even after the r5 64-slot-accumulator
    rewrite, rebuilds a 64-long array per token in the interpreted
    higher-order-function evaluator — 425 s for the fingerprint stage at the
    sf10 fixture (500k docs). The kernel moves the same computation into
    numpy: tokens (:func:`text_metrics.py_tokens`) md5-hash once per
    DISTINCT token per task through the shared :class:`md5np.Md5Intern`
    over :func:`md5np.md5_64` (the hi/lo md5 words the expression fold
    votes on) — documents share vocabulary, so the md5 count collapses from
    the token stream to roughly the task vocabulary, the cms_token_freq
    lesson — then a vectorized per-doc bit-vote
    ``((vals[:,None] >> shifts) & 1).sum(axis=0)``. Entirely map-side, zero
    exchanges, embarrassingly parallel.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id", id_type, False),
            StructField("simhash", LongType(), False),
        ]
    )
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    shifts = np.arange(63, dtype=np.uint64)

    def kernel(batches):
        intern = Md5Intern(md5_64)
        for pdf in batches:
            if not len(pdf):
                continue
            kept: list[int] = []
            fps: list[int] = []
            texts = pdf["text"]
            for pos in range(len(pdf)):
                text = texts.iloc[pos]
                if text is None:
                    continue
                toks = set(py_tokens(text))
                if not toks:
                    continue
                # bits 0..31 from the lo word, 32..62 from the hi word — same
                # layout as the expression fold's step lambda
                vals = np.array(intern.hash_all(toks), dtype=np.uint64)
                ones = ((vals[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                fp = int(
                    ((2 * ones > len(toks)).astype(np.uint64) << shifts).sum(
                        dtype=np.uint64
                    )
                )
                kept.append(pos)
                fps.append(fp)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].iloc[kept].reset_index(drop=True),
                    "simhash": pd.Series(fps, dtype="int64"),
                }
            )

    return base.mapInPandas(kernel, schema=schema)


def duckdb_simhash64(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of :func:`simhash64` — same two 32-bit md5 words, same
    per-bit votes, same powers-of-two reassembly."""
    toks = duck_tokens(text_col)
    return f"""
        WITH toks AS (
            SELECT DISTINCT {id_col} AS id, unnest({toks}) AS tok FROM {table}
        ),
        h AS (
            SELECT id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
                       ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
            FROM toks
        ),
        bits AS (
            SELECT id, b,
                   sum(CASE WHEN ((CASE WHEN b < 32 THEN lo >> b
                                        ELSE hi >> (b - 32) END) & 1) = 1
                            THEN 1 ELSE -1 END) AS s
            FROM h, range(0, 63) t(b)
            GROUP BY id, b
        )
        SELECT id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                                 ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY id
    """


def simhash64_hamming_pairs(
    df: DataFrame,
    radius: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    use_kernel: bool = True,
) -> DataFrame:
    """Hamming-radius pair search over the 63-bit fingerprint — the scale
    twin of :func:`simhash_hamming_pairs` (same streaming equi-self-join on
    (band, band value), same carried-fingerprint bit_count verify; see that
    docstring for why candidates must NOT use in-row bucket expansion).

    ``use_kernel`` selects the Arrow fingerprint kernel
    (:func:`simhash64_kernel`, bit-identical to the expression fold, ~6x at
    the sf10 fixture); ``False`` keeps the pure-expression fold for the
    pin tests and expression-only environments.

    Bands are exact integer bit-slices (shiftright + mask on BIGINT — no
    double arithmetic: bits above 52 would lose exactness in the
    floor/power formulation the 32-bit variant uses). radius 1..7 keeps
    every band >= 7 bits; at the standard radius 3 the bands are 16/16/16/15
    bits, so bucket population scales as n/2^15 — candidate volume stays
    ~linear in corpus size where the 32-bit construction (8-bit bands) goes
    quadratic past ~100k docs.
    """
    if not 1 <= radius <= 7:
        raise ValueError("radius must be in 1..7 for a 63-bit fingerprint")
    fp_builder = simhash64_kernel if use_kernel else simhash64
    sims = fp_builder(df, id_col=id_col, text_col=text_col)
    return hamming63_pairs(
        sims,
        radius=radius,
        max_bucket_size=max_bucket_size,
        fp_col="simhash",
    )


def hamming63_pairs(
    sims: DataFrame,
    radius: int = 3,
    max_bucket_size: int | None = None,
    fp_col: str = "simhash",
) -> DataFrame:
    """Banded Hamming-radius pair search over ANY 63-bit fingerprint column
    — the generic engine behind :func:`simhash64_hamming_pairs` (text
    simhash) and the perceptual image dHash dedup
    (functions/multimodal.image_dhash63): ``radius + 1`` exact bit-slice
    bands partition the 63 bits (pigeonhole: two fingerprints within
    ``radius`` agree on at least one band verbatim), candidates come from a
    streaming equi-self-join on (band, band value), and the carried
    fingerprints verify with one bit_count(xor). ``max_bucket_size`` drops
    hot band buckets before the self-join (per-bucket join cost is
    population², and boilerplate/logo content mega-collides) — the
    100 TB governance knob, same posture as the LSH bucket cap.

    ``sims`` must have columns (id, ``fp_col``) with the fingerprint a
    non-negative 63-bit BIGINT. Output: (id_a, id_b, hamming), id_a < id_b.
    """
    if not 1 <= radius <= 7:
        raise ValueError("radius must be in 1..7 for a 63-bit fingerprint")
    # x/y self-join sides plus the optional cap branch read the fingerprints
    sims, _ = owned_persist(sims)
    bands = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("band"),
                F.shiftright(F.col(fp_col), off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("bval"),
            )
            for j, (off, w) in enumerate(_simhash64_bands(radius))
        ]
    )
    banded = sims.select("id", fp_col, F.explode(bands).alias("bb")).select(
        "id", fp_col, F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    )
    if max_bucket_size is not None:
        kept = (
            banded.groupBy("band", "bval")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .select("band", "bval")
        )
        banded = banded.join(kept, ["band", "bval"])
    x = banded.select(
        F.col("id").alias("id_a"), F.col(fp_col).alias("sim_a"), "band", "bval"
    )
    y = banded.select(
        F.col("id").alias("id_b"), F.col(fp_col).alias("sim_b"), "band", "bval"
    )
    return (
        x.join(y, ["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
        .distinct()
    )


def duckdb_hamming63_pairs(
    sims_sql: str,
    radius: int = 3,
    max_bucket_size: int | None = None,
    fp_col: str = "simhash",
) -> str:
    """DuckDB twin of :func:`hamming63_pairs` over any (id, fingerprint)
    subquery — same bit-slice bands (>> and & are exact BIGINT ops), same
    bit_count(xor) verify, same band-bucket cap rule when
    ``max_bucket_size`` is given."""
    band_rows = " UNION ALL ".join(
        f"SELECT id, {fp_col}, {j} AS band, ({fp_col} >> {off}) & {(1 << w) - 1} AS bval FROM sims"
        for j, (off, w) in enumerate(_simhash64_bands(radius))
    )
    kept = ""
    join_kept = ""
    if max_bucket_size is not None:
        kept = f""",
        kept AS (
            SELECT band, bval FROM banded GROUP BY band, bval
            HAVING count(*) <= {max_bucket_size}
        )"""
        join_kept = " JOIN kept k ON k.band = x.band AND k.bval = x.bval"
    return f"""
        WITH sims AS ({sims_sql}),
        banded AS ({band_rows}){kept}
        SELECT DISTINCT x.id AS id_a, y.id AS id_b,
               CAST(bit_count(xor(x.{fp_col}, y.{fp_col})) AS BIGINT) AS hamming
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bval = y.bval AND x.id < y.id{join_kept}
        WHERE bit_count(xor(x.{fp_col}, y.{fp_col})) <= {radius}
    """


def duckdb_simhash64_hamming_pairs(
    table: str,
    radius: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB twin of :func:`simhash64_hamming_pairs` — the generic banded
    pair SQL over the simhash64 fingerprint subquery."""
    return duckdb_hamming63_pairs(
        duckdb_simhash64(table, id_col, text_col),
        radius=radius,
        max_bucket_size=max_bucket_size,
        fp_col="simhash",
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    diag: dict | None = None,
) -> DataFrame:
    """Asymmetric near-dup: containment C(A in B) = |A∩B| / |A| over shingle
    sets — the subset-duplication rule (quotes, boilerplate, a short doc
    embedded in a long one) that Jaccard structurally misses: for a short doc
    inside a long one, |A∪B| is dominated by the long doc so Jaccard ≈
    |A|/|B| ≈ 0 while C(A in B) = 1.

    Candidate generation deliberately reuses the SHINGLE-JOIN shape of
    ``ngram_jaccard_pairs``, NOT the banded MinHash-LSH buckets: a banded
    signature collides with probability ≈ Jaccard^rows_per_band, so subset
    pairs — the entire point of containment — are exactly the pairs banding
    never surfaces (verified by test: a fully-contained doc produced zero
    LSH candidates). A containment-aware sketch would need asymmetric
    partitioning; the shingle join IS the scale-honest exact form, with
    ``max_df`` capping ubiquitous shingles as in the Jaccard twin.
    Output: (id_a, id_b, cont_a, cont_b, cont_max) filtered on cont_max.
    """

    # three consumers (a-side, b-side, sizes) and no exchange reuse across
    # them — persist the shingle frame once (ngram_jaccard_pairs precedent)
    sh_arr, _ = owned_persist(shingle_arrays(df, n, id_col, text_col))
    sh = sh_arr.select("id", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        sh, sizes = _df_capped_shingles(sh, max_df, generator="containment",
                                        diag=diag)
    else:
        sizes = sh_arr.select("id", F.size("shingles").cast("long").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            fround(F.col("inter") / F.col("sz_a"), 4).alias("cont_a"),
            fround(F.col("inter") / F.col("sz_b"), 4).alias("cont_b"),
        )
        .withColumn("cont_max", F.greatest("cont_a", "cont_b"))
        .filter(F.col("cont_max") >= threshold)
    )


def duckdb_containment(
    table: str,
    n: int = 3,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> str:
    ca = duck_fround("i.inter / sa.sz", 4)
    cb = duck_fround("i.inter / sb.sz", 4)
    return f"""
        WITH {_duck_capped_shingle_ctes(table, n, id_col, text_col, max_df)},
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, cont_a, cont_b, cont_max FROM (
            SELECT i.id_a, i.id_b, {ca} AS cont_a, {cb} AS cont_b,
                   greatest({ca}, {cb}) AS cont_max
            FROM inter i
            JOIN sizes sa ON sa.id = i.id_a
            JOIN sizes sb ON sb.id = i.id_b
        ) WHERE cont_max >= {threshold}
    """
