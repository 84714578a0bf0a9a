"""Expected lane outputs, computed once per generated input set.

Each catalog lane is checked the way ``tools/driver_check.py`` checks
it: same sorted column names, same row count, and the same
order-insensitive value hash as the lane's DuckDB oracle over the same
parquet files. The expected (columns, rows, hash) triple is cached in
the input directory, because some oracles take far longer than the
lane they check. Each cached entry carries a hash of its oracle's SQL
text and is recomputed when the oracle changes.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tools.driver_check import value_hash


def expected(sf_dir: str, lanes: list[str]) -> dict[str, dict]:
    """(cols, n_rows, hash) per lane, from the cache or from DuckDB."""
    from click_streaming_data_pipeline_spark.plans import QUERIES

    path = os.path.join(sf_dir, "_EXPECTED.json")
    cache: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    sqls = {}
    for name in lanes:
        sql = QUERIES[name].oracle
        sqls[name] = sql() if callable(sql) else sql
    tags = {n: hashlib.sha256(q.encode()).hexdigest()[:16] for n, q in sqls.items()}
    missing = [n for n in lanes if cache.get(n, {}).get("sql") != tags[n]]
    if missing:
        con = duckdb.connect()
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in ("events", "documents", "embeddings"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for name in missing:
            cur = con.execute(sqls[name])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            cache[name] = {
                "cols": sorted(cols),
                "rows": len(rows),
                "hash": value_hash(rows, cols),
                "sql": tags[name],
            }
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {n: cache[n] for n in lanes}


def matches(exp: dict, rows: list, cols: list[str]) -> bool:
    return (
        sorted(cols) == exp["cols"]
        and len(rows) == exp["rows"]
        and value_hash([tuple(r) for r in rows], cols) == exp["hash"]
    )
