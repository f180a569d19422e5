"""Seeded inputs for the benchmark, written with numpy/pyarrow only (no
Spark), each set under its own directory with a manifest.

- ``base``: the ten star-schema tables in the shape of the repo's
  sf0.001 testdata (TESTDATA.md: same schemas, key ranges, categorical
  domains, value ranges and near-dup share; see FIXTURES.md). The
  benchmark runs in checkouts that hold no testdata, so it makes its own.
- ``replica``: a 10x copy of the base facts with remapped keys, the
  scheme of tools/sf1x_stress.py; the seed picks each copy's near-dup text
  tag. Dims are copied once.

A directory is complete only when its ``manifest.json`` exists: the
tables are written into a temporary sibling that is renamed into place
after the manifest. ``check_manifest`` re-reads every file's footer and
size and raises on any difference, so a timed run never reads a partial
or mismatched input.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIMS = ("region", "nation", "customer", "supplier", "part")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64
DUP_SHARE = 0.05
COPIES = 10

_DAY_US = 86_400_000_000
_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_SHIP_DAY0 = np.datetime64("1995-01-02", "D")
_EVENT_T0 = np.datetime64("2024-01-01", "us")


def _days(rng, day0, n_days: int, n: int) -> pa.Array:
    days = day0 + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float, seed: int, n_docs: int | None = None) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (0.001 gives the testdata's
    sf0.001 row counts), a pure function of the arguments. ``n_docs``
    overrides the documents and embeddings row counts."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = int(1_000_000 * sf)
    n_emb = n_docs or max(500, int(20_000 * sf))
    n_docs = n_docs or max(500, int(50_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(ADJECTIVES, n_part), rng.choice(NOUNS, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, _ORDER_DAY0, 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, _SHIP_DAY0, 2499, n_line),
        }
    )
    gaps_us = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(_EVENT_T0 + np.cumsum(gaps_us).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, n_docs)]
    # near-dup share: a copy of another document's text plus a " dup" tag
    dups = rng.choice(n_docs, int(n_docs * DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d, o in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[o] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def replica_tables(base_dir: str, seed: int) -> dict[str, pa.Table]:
    """COPIES copies of the base facts with remapped keys
    (key*COPIES + i), dims copied once. Copy i > 0 of every document gets
    a seeded tag appended to its text, so each original becomes a
    COPIES-member near-dup group. The seed picks the tags; 30% of the
    copies repeat another copy's tag, so every group also holds the same
    number of exact duplicates, which the dup-flow stores count."""
    rng = np.random.default_rng(seed)
    n_distinct = COPIES - 1 - (3 * COPIES) // 10
    distinct = [f" c{t}" for t in rng.choice(np.arange(10, 100), n_distinct, replace=False)]
    repeats = list(rng.choice(distinct, COPIES - 1 - n_distinct))
    tags = [""] + [str(t) for t in rng.permutation(distinct + repeats)]
    remap = {
        "orders": "o_orderkey",
        "lineitem": "l_orderkey",
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
    }
    out = {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet")) for t in DIMS}
    for t, key in remap.items():
        src = pq.read_table(os.path.join(base_dir, f"{t}.parquet"))
        keys = src.column(key).to_numpy()
        parts = []
        for i in range(COPIES):
            c = src.set_column(
                src.schema.get_field_index(key), key, pa.array(keys * COPIES + i, pa.int64())
            )
            if t == "documents" and tags[i]:
                text = [s + tags[i] for s in src.column("text").to_pylist()]
                c = c.set_column(c.schema.get_field_index("text"), "text", pa.array(text))
                c = c.set_column(
                    c.schema.get_field_index("n_chars"),
                    "n_chars",
                    pa.array([len(s) for s in text], pa.int64()),
                )
            parts.append(c)
        out[t] = pa.concat_tables(parts)
    return out


def _generator_id() -> str:
    """Hash of this file: a changed generator regenerates cached inputs."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _file_entry(path: str) -> dict:
    return {"rows": pq.ParquetFile(path).metadata.num_rows, "bytes": os.path.getsize(path)}


def write_set(dst: str, tables: dict[str, pa.Table], meta: dict) -> dict:
    """Write ``tables`` as ``dst/<name>.parquet`` (one row group each, like
    the repo's testdata) plus ``manifest.json``; atomic by rename."""
    tmp = dst + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    manifest = dict(meta)
    manifest["tables"] = {
        name: _file_entry(os.path.join(tmp, f"{name}.parquet")) for name in sorted(tables)
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return manifest


def check_manifest(dst: str, meta: dict) -> dict:
    """Return the manifest of ``dst`` after checking that it was made with
    ``meta`` and that every table file still has its recorded row count
    and size. Raises ValueError otherwise."""
    path = os.path.join(dst, "manifest.json")
    if not os.path.exists(path):
        raise ValueError(f"{dst}: no manifest (partial input)")
    with open(path) as f:
        manifest = json.load(f)
    for k, v in meta.items():
        if manifest.get(k) != v:
            raise ValueError(f"{dst}: manifest {k}={manifest.get(k)!r}, expected {v!r}")
    for name, entry in manifest["tables"].items():
        try:
            ok = _file_entry(os.path.join(dst, f"{name}.parquet")) == entry
        except (OSError, ValueError):  # missing or unreadable file
            ok = False
        if not ok:
            raise ValueError(f"{dst}: {name} does not match its manifest entry")
    return manifest


def _matches(dst: str, meta: dict) -> bool:
    """Whether ``dst`` holds a finished set made with ``meta``. A finished
    set made otherwise (an older generator) is rebuilt; its files are
    checked by check_manifest either way."""
    try:
        with open(os.path.join(dst, "manifest.json")) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        return False
    return all(manifest.get(k) == v for k, v in meta.items())


def ensure_base(dst: str, sf: float, seed: int, n_docs: int | None = None) -> dict:
    """The base set at ``dst``, generated if absent."""
    meta = {"kind": "base", "sf": sf, "seed": seed, "docs": n_docs, "generator": _generator_id()}
    if not _matches(dst, meta):
        write_set(dst, base_tables(sf, seed, n_docs), meta)
    return check_manifest(dst, meta)


def ensure_replica(dst: str, base_dir: str, seed: int) -> dict:
    """The seeded 10x replica of ``base_dir`` at ``dst``, generated if
    absent."""
    base = check_manifest(base_dir, {"kind": "base"})
    meta = {
        "kind": "replica",
        "seed": seed,
        "copies": COPIES,
        "base": base["tables"],
        "generator": _generator_id(),
    }
    if not _matches(dst, meta):
        write_set(dst, replica_tables(base_dir, seed), meta)
    return check_manifest(dst, meta)
