"""Seeded input generator owned by the benchmark.

``ensure_inputs(work_dir, sets)`` writes the input sets the workloads read
(``INPUT_SETS``: ``sf0.01`` and ``x10``).  A set is named by a scale and a
factor:

- factor 1: every table of the suite's test-data layout (TPC-H-shaped star
  schema plus ``events``, ``documents`` and ``embeddings``) at that scale,
  with the suite's schemas and value distributions.  ``events.ts`` is
  stored as TIMESTAMP(NANOS), the type the program's reader
  (``sources.io.read_table``) is written for and reads as int64 nanoseconds;
- factor 10 (``x10``): a 10x copy of the scale's tables built by the
  scaling rules of ``tools/scale_corpus.py`` (restated here so that a
  program change cannot change the inputs):

  - replica ``r`` in ``[0, 10)``; replica 0 is the scale's tables row for
    row;
  - key columns shift by ``r * stride`` per key domain (the column name
    after its first ``_``), where the stride is one more than the largest
    key of that domain in any table, so joins keep their selectivity;
  - ``nation`` and ``region`` are copied unchanged;
  - ``documents.text`` gets ``~r`` appended to every third word for
    ``r > 0`` (so near-duplicates stay within a replica) and ``n_chars``
    is recomputed;
  - ``embeddings`` get ``r * 1e-3`` added to their first component.

Generation is numpy/pyarrow only (no Spark) and deterministic: the tables
depend only on ``GEN_SEED``, the set's scale and factor, and this file.
Each set is cached under ``work_dir`` with a ``meta.json`` keyed on a hash
of this file, so a cached copy is reused only if it was made by the same
generator.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_SEED = 20240101
# name -> (scale, factor): the LLM workload's inputs and the relational
# workload's 10x copy of sf0.1
INPUT_SETS = {"sf0.01": (0.01, 1), "x10": (0.1, 10)}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# output file count per table in the x10 copy (parallel first scans)
_FILES = {
    "orders": 8,
    "lineitem": 16,
    "customer": 4,
    "supplier": 1,
    "part": 4,
    "events": 8,
    "documents": 8,
    "embeddings": 4,
}
_SHIFT_COLS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _source_hash() -> str:
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:16]


def _ts_days(rng, n: int, lo: str, hi: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days ``lo..hi``."""
    start = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - start).astype(int))
    days = start + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def base_tables(scale: float) -> dict[str, pa.Table]:
    """Every table at ``scale`` (1.0 would be sf1)."""
    rng = np.random.default_rng(GEN_SEED)
    n_cust = max(1, round(150_000 * scale))
    n_supp = max(1, round(10_000 * scale))
    n_part = max(1, round(200_000 * scale))
    n_ord = max(1, round(1_500_000 * scale))
    n_line = max(1, round(6_000_000 * scale))
    n_ev = max(1, round(1_000_000 * scale))
    n_users = max(1, round(15_000 * scale))
    n_docs = max(500, round(50_000 * scale))
    n_vecs = max(500, round(20_000 * scale))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts_days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(
                (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")).astype(
                    "datetime64[ns]"
                ),
                pa.timestamp("ns"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    # 5% of documents are near-duplicates: an earlier original plus " dup"
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < 0.05:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_words)))
            originals.append(i)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1), pa.float32()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return t


def _domain(col: str) -> str:
    return col.split("_", 1)[1]


def _perturb(text: str, r: int) -> str:
    words = text.split(" ")
    return " ".join(f"{w}~{r}" if i % 3 == 0 else w for i, w in enumerate(words))


def scaled_table(base: dict[str, pa.Table], table: str, factor: int) -> pa.Table:
    """``factor`` replicas of ``base[table]`` under the scaling rules above."""
    strides: dict[str, int] = {}
    for tname, cols in _SHIFT_COLS.items():
        for c in cols:
            d = _domain(c)
            top = int(pc.max(base[tname][c]).as_py()) + 1
            strides[d] = max(strides.get(d, 0), top)
    src = base[table]
    parts = []
    for r in range(factor):
        cols = {}
        for name in src.column_names:
            col = src[name]
            if name in _SHIFT_COLS.get(table, ()):
                col = pc.add(col, pa.scalar(r * strides[_domain(name)], pa.int64()))
            cols[name] = col
        if table == "documents" and r > 0:
            texts = [_perturb(x, r) for x in src["text"].to_pylist()]
            cols["text"] = pa.array(texts)
            cols["n_chars"] = pa.array([len(x) for x in texts], pa.int64())
        if table == "embeddings" and r > 0:
            vecs = np.array(src["embedding"].to_pylist(), dtype=np.float32)
            vecs[:, 0] = vecs[:, 0] + np.float32(r) * np.float32(1e-3)
            cols["embedding"] = pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1), pa.float32()), vecs.shape[1]
            ).cast(pa.list_(pa.float32()))
        parts.append(pa.table(cols, schema=src.schema))
    return pa.concat_tables(parts).combine_chunks()


def _write(table: pa.Table, path: Path, files: int) -> None:
    """One directory per table holding ``files`` parquet parts."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        # format 2.6 keeps TIMESTAMP(NANOS) instead of coercing it to micros
        pq.write_table(part, path / f"part-{i:05d}.parquet", version="2.6")


def _build_set(scale: float, factor: int) -> tuple[dict[str, pa.Table], dict[str, int]]:
    base = base_tables(scale)
    if factor == 1:
        return base, {}
    scaled = {name: scaled_table(base, name, factor) for name in _SHIFT_COLS}
    scaled.update({name: base[name] for name in ("nation", "region")})
    return scaled, _FILES


def ensure_inputs(work_dir: Path, sets: dict[str, tuple[float, int]] = INPUT_SETS) -> dict:
    """Generate (or reuse) every set under ``work_dir``; returns
    ``{name: dir, ..., "key": ..., "generated_s": seconds}``."""
    import time

    t0 = time.perf_counter()
    key = f"{_source_hash()}-{GEN_SEED}-{sorted(sets.items())}"
    root = Path(work_dir) / "data"
    meta = root / "meta.json"
    dirs = {name: str(root / name) for name in sets}
    if meta.exists() and json.loads(meta.read_text()).get("key") == key:
        return {**dirs, "key": key, "generated_s": 0.0}
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    for name, (scale, factor) in sets.items():
        tables, files = _build_set(scale, factor)
        for table in TABLES:
            _write(tables[table], Path(dirs[name]) / f"{table}.parquet", files.get(table, 1))
    meta.write_text(json.dumps({"key": key}))
    return {**dirs, "key": key, "generated_s": time.perf_counter() - t0}
