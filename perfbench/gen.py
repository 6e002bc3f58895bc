"""Seeded input generation for the benchmark workloads.

Every table is synthesized from the seed alone, with the schemas and value
ranges of the engine's shipped test data (TESTDATA.md): a star schema
(region, nation, customer, supplier, part, orders, lineitem), the ``events``
table, the LLM-pipeline ``documents`` and ``embeddings`` tables, and
TeraGen-style key/value records. The engine only ever sees the parquet files
written here; the same seed always writes the same rows.

``scale`` multiplies the sf0.1 row counts (lineitem 600k rows at scale 1).
As in ``tools/scale_testdata.py``, the star schema is built as replicas with
per-replica key strides, so foreign keys stay consistent and join fan-outs
grow with volume instead of multiplying; here the key base of every table is
also offset by a seeded amount, so two seeds hash-partition differently.
Event, document and vector ids start at 0 as in the shipped data: several
registry entries select their query rows by id range (``vec_id < 100``).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP = 50_000  # parquet row groups are the unit of scan split assignment
US_PER_DAY = 86_400_000_000

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

# sf0.1 row counts per replica
_N_CUSTOMER, _N_SUPPLIER, _N_PART = 15_000, 1_000, 20_000
_N_ORDERS, _N_LINEITEM, _N_EVENTS = 150_000, 600_000, 100_000
_N_DOCS, _N_VECS, _N_USERS = 5_000, 2_000, 1_500
_EMB_DIM = 64

_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01

STREAM_FILES = 2  # staged event files, one micro-batch each
_STAGE_MTIME = 1_700_000_000  # epoch seconds of the first staged file


def _strings(values: list[str], idx: np.ndarray) -> pa.Array:
    """Categorical column: pick ``values[idx]`` as a plain string array."""
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).dictionary_decode()


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=ROW_GROUP)
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def _key_bases(seed: int) -> dict[str, int]:
    """Seeded key offsets, one per key space (well below the replica stride)."""
    rng = np.random.default_rng([seed, 1])
    return {k: int(rng.integers(0, 400_000)) for k in ("cust", "supp", "part", "order")}


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Replicated star schema: ``ceil(scale)`` replicas, the last one partial."""
    base = _key_bases(seed)
    reps = max(1, int(np.ceil(scale)))
    frac = [min(1.0, scale - k) for k in range(reps)]
    parts: dict[str, list[pa.Table]] = {t: [] for t in STAR_TABLES[2:]}
    for k, f in enumerate(frac):
        rng = np.random.default_rng([seed, 100 + k])
        nc, ns, np_, no, nl = (
            max(1, int(n * f))
            for n in (_N_CUSTOMER, _N_SUPPLIER, _N_PART, _N_ORDERS, _N_LINEITEM)
        )
        ck = base["cust"] + k * 1_000_000 + np.arange(nc, dtype=np.int64)
        sk = base["supp"] + k * 1_000_000 + np.arange(ns, dtype=np.int64)
        pk = base["part"] + k * 1_000_000 + np.arange(np_, dtype=np.int64)
        ok = base["order"] + k * 10_000_000 + np.arange(no, dtype=np.int64)
        parts["customer"].append(pa.table({
            "c_custkey": ck,
            "c_name": pa.array(np.char.mod("Customer#%09d", ck).tolist()),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _strings(_SEGMENTS, rng.integers(0, 5, nc)),
        }))
        parts["supplier"].append(pa.table({
            "s_suppkey": sk,
            "s_name": pa.array(np.char.mod("Supplier#%09d", sk).tolist()),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }))
        names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
        parts["part"].append(pa.table({
            "p_partkey": pk,
            "p_name": _strings(names, rng.integers(0, len(names), np_)),
            "p_brand": _strings(
                [f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, np_)
            ),
            "p_type": _strings(_PART_TYPES, rng.integers(0, 6, np_)),
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }))
        parts["orders"].append(pa.table({
            "o_orderkey": ok,
            "o_custkey": ck[rng.integers(0, nc, no)],
            "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, no)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(
                (_EPOCH_1995 + rng.integers(0, 2404, no)) * US_PER_DAY
            ),
            "o_orderpriority": _strings(_PRIORITIES, rng.integers(0, 5, no)),
        }))
        parts["lineitem"].append(pa.table({
            "l_orderkey": ok[rng.integers(0, no, nl)],
            "l_partkey": pk[rng.integers(0, np_, nl)],
            "l_suppkey": sk[rng.integers(0, ns, nl)],
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, nl)),
            "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, nl)),
            "l_shipdate": _ts(
                (_EPOCH_1995 + 1 + rng.integers(0, 2499, nl)) * US_PER_DAY
            ),
        }))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    out.update({t: pa.concat_tables(v) for t, v in parts.items()})
    return out


def events_table(seed: int, scale: float) -> pa.Table:
    """Events over January 2024, ``ts`` strictly increasing with ``event_id``."""
    rng = np.random.default_rng([seed, 2])
    n = max(10, int(_N_EVENTS * scale))
    span = 30 * US_PER_DAY
    # distinct sorted offsets: sorted draws plus the row index break ties
    ts = np.sort(rng.integers(0, span - n, n)) + np.arange(n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 * US_PER_DAY + ts),
        "user_id": rng.integers(0, max(2, int(_N_USERS * scale)), n).astype(np.int64),
        "event_type": _strings(_EVENT_TYPES, rng.integers(0, 5, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": _strings([f'{{"k": {i}}}' for i in range(100)], rng.integers(0, 100, n)),
    })


def documents_table(seed: int, scale: float) -> pa.Table:
    """Random-word documents; 5% are perturbed near-duplicates of another doc
    (a copy with one word replaced and a trailing marker word)."""
    rng = np.random.default_rng([seed, 3])
    n = max(20, int(_N_DOCS * scale))
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[words[cuts[i]:cuts[i + 1]]]) for i in range(n)]
    dups = rng.choice(n, n // 20, replace=False)
    srcs = rng.integers(0, n, len(dups))
    for d, s in zip(dups, srcs):
        toks = texts[s].split(" ")
        toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        texts[d] = " ".join(toks) + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _strings(_LANGS, rng.integers(0, len(_LANGS), n)),
        "source": _strings([f"src{i}" for i in range(20)], np.arange(n) % 20),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(seed: int, scale: float) -> pa.Table:
    """Unit vectors scattered around ten seeded label centroids."""
    rng = np.random.default_rng([seed, 4])
    n = max(20, int(_N_VECS * scale))
    centers = rng.normal(0.0, 1.0, (10, _EMB_DIM))
    label = rng.integers(0, 10, n)
    mat = centers[label] + rng.normal(0.0, 1.2, (n, _EMB_DIM))
    mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(mat.ravel()), _EMB_DIM)
        .cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def stage_events(events: pa.Table, stream_dir: str) -> dict[str, dict]:
    """Stage ``events`` for the file-stream source as STREAM_FILES files in
    event-time order, the earlier half first, with modification times one
    second apart. With one file read per trigger, a drain runs one
    micro-batch per file in this order, so the state store is reloaded and
    committed across versions, and no row arrives behind the watermark."""
    os.makedirs(stream_dir)
    cuts = np.linspace(0, events.num_rows, STREAM_FILES + 1).astype(int)
    rows = nbytes = 0
    for k in range(STREAM_FILES):
        path = os.path.join(stream_dir, f"events-{k}.parquet")
        pq.write_table(events.slice(cuts[k], cuts[k + 1] - cuts[k]), path,
                       row_group_size=ROW_GROUP)
        os.utime(path, (_STAGE_MTIME + k, _STAGE_MTIME + k))
        rows += cuts[k + 1] - cuts[k]
        nbytes += os.path.getsize(path)
    return {"events": {"rows": int(rows), "bytes": nbytes}}


def tera_sql(seed: int, n_rows: int, path: str) -> str:
    """TeraGen records with the seed folded into the md5 input (20-hex-char
    key, 90-char value, as ``sources.generators.teragen``), written by DuckDB."""
    return f"""
        COPY (
            SELECT substr(md5('{seed}:' || i::VARCHAR), 1, 20) AS kv_key,
                   substr(repeat(md5('{seed}:' || i::VARCHAR || ':v'), 3), 1, 90)
                       AS kv_value
            FROM range(0, {n_rows}) t(i) ORDER BY i
        ) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP})
    """


def generate(workload: str, seed: int, scale: float, out_dir: str) -> dict[str, dict]:
    """Write the inputs of ``workload`` for ``seed`` into a fresh ``out_dir``.

    Returns ``{table: {"rows", "bytes"}}`` for every file written.
    """
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    if workload == "relational":
        tables = star_tables(seed, scale)
        tables["events"] = events_table(seed, scale)
        return _write(tables, out_dir)
    if workload == "llm_pipeline":
        return _write({
            "documents": documents_table(seed, scale),
            "embeddings": embeddings_table(seed, scale),
        }, out_dir)
    if workload == "stream_replay":
        return stage_events(events_table(seed, scale), os.path.join(out_dir, "stream"))
    if workload == "terasort":
        import duckdb

        path = os.path.join(out_dir, "tera.parquet")
        n = max(100, int(500_000 * scale))
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            con.execute(tera_sql(seed, n, path))
        finally:
            con.close()
        return {"tera": {"rows": n, "bytes": os.path.getsize(path)}}
    raise ValueError(f"unknown workload {workload!r}")
