"""Expected outputs, computed outside every timed window.

Oracle-paired ops are checked against the DuckDB oracle SQL the engine
registers for them, run over the same parquet files. Results are cached
in the work dir under a key made of the input manifest and the oracle SQL
text, so a changed input or a changed oracle recomputes them. Rows-only
ops (no oracle) are pinned to the first digest seen in the run.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(_ROOT, "tools", "check_oracle.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    """tools/check_oracle.py's order-insensitive value hash, the canonical
    form the repo's correctness gate compares with. Loaded on first use:
    it imports the engine's query registry."""
    return _check_oracle().frame_digest(cols, rows)


def _cached(cache_dir: str, prefix: str, key_obj, compute):
    key = hashlib.sha256(json.dumps(key_obj, sort_keys=True).encode()).hexdigest()[:20]
    path = os.path.join(cache_dir, f"{prefix}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def _run_sql(sf_dir: str, sql: dict[str, str], consume) -> dict:
    import duckdb

    from big_data_computing_final_project_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, text in sorted(sql.items()):
            rel = con.sql(text)
            out[name] = consume([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def _oracles(names) -> dict[str, str]:
    from big_data_computing_final_project_spark.plans import all_oracles

    return {n: s for n, s in all_oracles().items() if n in names}


def expected_digests(sf_dir: str, manifest: dict, names, cache_dir: str) -> dict:
    """{op: (row count, digest)} of every oracle-paired op in ``names``."""
    sql = _oracles(names)
    out = _cached(
        cache_dir,
        "digests",
        [manifest, sorted(sql.items())],
        lambda: _run_sql(sf_dir, sql, lambda cols, rows: (len(rows), frame_digest(cols, rows))),
    )
    return {n: tuple(v) for n, v in out.items()}


def oracle_rows(sf_dir: str, manifest: dict, name: str, cache_dir: str) -> list[tuple]:
    """The oracle's full result rows for one op."""
    sql = _oracles([name])
    out = _cached(
        cache_dir,
        "rows",
        [manifest, sorted(sql.items())],
        lambda: _run_sql(sf_dir, sql, lambda cols, rows: rows),
    )
    return [tuple(r) for r in out[name]]
