"""Expected outputs: DuckDB oracle results reduced to order-insensitive
fingerprints.

``canonical(rows, cols)`` is the comparison rule of the suite's correctness
gate (``tools/check.py``): columns sorted by name, rows sorted, floats
compared by ``repr`` (bit-exact), other values by type name and ``str``.
``fingerprint`` hashes that canonical form, so a Spark result and a DuckDB
result have the same fingerprint exactly when the gate would call them
equal.

Oracle results depend only on the inputs and the oracle SQL, so they are
computed once per input set and cached under the work directory, keyed on
the input key and a hash of the SQL.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path


def _canon(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, list):
        return ("l", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    return (type(v).__name__, str(v))


def canonical(rows, cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def fingerprint(rows, cols: list[str]) -> str:
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in canonical(rows, cols):
        h.update(repr(row).encode())
    return h.hexdigest()


def duck_connect(input_dir: str, tables, temp_dir: Path):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{temp_dir}'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet/*.parquet')"
        )
    return con


def ensure_expected(
    names: list[str], oracles: dict[str, str], input_dir: str, input_key: str,
    tables, work_dir: Path,
) -> dict[str, dict]:
    """``{name: {"fp", "rows", "oracle_s"}}`` for every query, from the cache
    when its key matches, else by running the oracle SQL on DuckDB."""
    cache_path = Path(work_dir) / "expected" / f"{hashlib.sha256(input_dir.encode()).hexdigest()[:12]}.json"
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    con = None
    out = {}
    for name in names:
        sql = oracles[name]
        key = f"{input_key}:{hashlib.sha256(sql.encode()).hexdigest()}"
        hit = cache.get(name)
        if hit is None or hit.get("key") != key:
            import time

            if con is None:
                tmp = Path(work_dir) / "duckdb_tmp"
                tmp.mkdir(parents=True, exist_ok=True)
                con = duck_connect(input_dir, tables, tmp)
            t0 = time.perf_counter()
            rel = con.execute(sql)
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            hit = {
                "key": key,
                "fp": fingerprint(rows, cols),
                "rows": len(rows),
                "oracle_s": time.perf_counter() - t0,
            }
            cache[name] = hit
        out[name] = hit
    if con is not None:
        con.close()
        cache_path.parent.mkdir(parents=True, exist_ok=True)
        cache_path.write_text(json.dumps(cache, indent=1))
    return out
