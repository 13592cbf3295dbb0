"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(GENERATOR_VERSION, workload, seed)``:
the same seed writes byte-identical files. Generated sets are cached under
``.perfbench_cache/<version>-<workload>-<seed>/`` in the checkout, so a run
only generates when its key is new; bump ``GENERATOR_VERSION`` whenever a
generator changes so stale sets are never reused.

Two generators:

* ``write_tables`` — the engine's ten input tables (star schema, events,
  documents, embeddings; TESTDATA.md, FIXTURES.md) with the reference
  sets' schemas and value domains, one snappy parquet file per table.
* ``write_hgt_cells`` — SRTM3 cells (1201x1201 big-endian int16) written
  with the program's own ``cli_spark.sources.hgt.write_fixture``; the seed
  picks the cell names and each cell's field phase.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from datetime import datetime

import numpy as np

GENERATOR_VERSION = "g2"
_READY = "_READY.json"
_KEEP = 4  # cached input sets kept per checkout (newest first)

# Table sizes per unit of scale factor (sf1 = 1.0): the reference sets'
# sf0.001/sf0.01 row counts divided by their scale factor. documents and
# embeddings do not grow below sf0.01 in those sets (500 rows).
_ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
                "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
_MIN_TEXT_ROWS = 500

_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_ADJ = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "zh", "fr", "es", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> np.ndarray:
    span = (hi - lo).days
    return np.datetime64(lo, "us") + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-soup texts over the reference sets' 30-word vocabulary; every 20th
    text is a near-duplicate (an earlier text plus a trailing ``dup``
    token), the structure the dedup operators look for. Lengths are a
    seeded permutation of one fixed multiset (10..99 words), so every
    seed carries the same amount of text and the same number of
    near-duplicates; only their content and placement change."""
    lengths = rng.permutation(10 + np.arange(n) % 90)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_VOCAB), int(lengths[i]))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def table_columns(seed: int, sf: float) -> dict[str, dict]:
    """All ten tables as column dicts (numpy arrays / lists)."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, round(r * sf)) for t, r in _ROWS_PER_SF.items()}
    n_text = max(_MIN_TEXT_ROWS, round(50_000 * sf))
    ts0 = datetime(2024, 1, 1)
    ev_offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n["events"]))
    n_users = max(2, round(n["events"] * 0.015))
    emb = rng.standard_normal((n_text, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n["customer"], dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                     "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"])},
        "supplier": {"s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])},
        "part": {"p_partkey": np.arange(n["part"], dtype=np.int64),
                 "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                 "p_type": _pick(rng, _PTYPES, n["part"]),
                 "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1)},
        "orders": {"o_orderkey": np.arange(n["orders"], dtype=np.int64),
                   "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
                   "o_orderstatus": _pick(rng, ["P", "O", "F"], n["orders"]),
                   "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
                   "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n["orders"]),
                   "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"])},
        "lineitem": {"l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
                     "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
                     "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
                     "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 105_000, n["lineitem"]),
                     "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) / 100, 2),
                     "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) / 100, 2),
                     "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
                     "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
                     "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n["lineitem"])},
        "events": {"event_id": np.arange(n["events"], dtype=np.int64),
                   "ts": np.datetime64(ts0, "us") + ev_offsets.astype("timedelta64[us]"),
                   "user_id": rng.integers(0, n_users, n["events"]).astype(np.int64),
                   "event_type": _pick(rng, _EVENT_TYPES, n["events"]),
                   "value": np.round(np.maximum(rng.exponential(50.0, n["events"]), 0.01), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]},
        "documents": _documents(rng, n_text),
        "embeddings": {"vec_id": np.arange(n_text, dtype=np.int64),
                       "embedding": list(emb),
                       "label": rng.integers(0, 10, n_text).astype(np.int32)},
    }


def write_tables(directory: str, seed: int, sf: float, names: list[str]) -> dict:
    """Write the named tables as ``<name>.parquet``; returns {name: rows}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    rows = {}
    for name, cols in table_columns(seed, sf).items():
        if name not in names:
            continue
        arrays = {}
        for col, values in cols.items():
            if col == "embedding":
                arrays[col] = pa.array([v.tolist() for v in values], pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(values)
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"),
                       compression="snappy")
        rows[name] = table.num_rows
    return rows


HGT_N = 1201  # SRTM3 grid side


def hgt_cells(seed: int, count: int) -> list[tuple[str, float]]:
    """``count`` distinct (cell name, field phase) pairs picked by the seed."""
    rng = np.random.default_rng([seed, 2])
    cells: dict[str, float] = {}
    while len(cells) < count:
        lat, lng = int(rng.integers(-56, 60)), int(rng.integers(-180, 180))
        name = f"{'N' if lat >= 0 else 'S'}{abs(lat):02d}{'E' if lng >= 0 else 'W'}{abs(lng):03d}"
        cells.setdefault(name, round(float(rng.uniform(0, 2 * math.pi)), 6))
    return sorted(cells.items())


def write_hgt_cells(directory: str, seed: int, count: int, n: int = HGT_N) -> dict:
    from cli_spark.sources.hgt import write_fixture

    cells = hgt_cells(seed, count)
    for cell, phase in cells:
        write_fixture(directory, cell, n, phase)
    return {"cells": [c for c, _ in cells], "grid_n": n, "rows": count * n * n}


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(directory)):
        for f in sorted(files):
            if f == _READY:
                continue
            path = os.path.join(root, f)
            h.update(os.path.relpath(path, directory).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _bytes(directory: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(directory)
               for f in fs if f != _READY)


def generate(spec: dict, directory: str, seed: int) -> dict:
    """Generate one workload's inputs into ``directory`` (tables under
    ``tables/``, HGT cells under ``hgt/``); returns the manifest."""
    manifest: dict = {"rows": 0}
    if spec["tables"]:
        rows = write_tables(os.path.join(directory, "tables"), seed, spec["sf"], spec["tables"])
        manifest.update(rows=sum(rows.values()), tables=rows)
    if spec["hgt_cells"]:
        hgt = write_hgt_cells(os.path.join(directory, "hgt"), seed, spec["hgt_cells"])
        manifest.update(rows=manifest["rows"] + hgt["rows"], hgt=hgt)
    manifest.update(bytes=_bytes(directory), sha256=_digest(directory),
                    generator=GENERATOR_VERSION, seed=seed)
    return manifest


def ensure(cache_root: str, workload: str, spec: dict, seed: int) -> tuple[str, dict]:
    """Return (directory, manifest) for the cached input set, generating
    it first when missing. Older sets beyond the newest ``_KEEP`` are
    removed so repeated seeds cannot fill the disk."""
    directory = os.path.join(cache_root, f"{GENERATOR_VERSION}-{workload}-{seed}")
    ready = os.path.join(directory, _READY)
    if os.path.exists(ready):
        with open(ready) as fh:
            manifest = json.load(fh)
        os.utime(ready)
    else:
        shutil.rmtree(directory, ignore_errors=True)
        os.makedirs(directory)
        manifest = generate(spec, directory, seed)
        with open(ready, "w") as fh:
            json.dump(manifest, fh)
    _prune(cache_root)
    return directory, manifest


def _prune(cache_root: str) -> None:
    entries = []
    for name in os.listdir(cache_root):
        ready = os.path.join(cache_root, name, _READY)
        mtime = os.path.getmtime(ready) if os.path.exists(ready) else 0.0
        entries.append((mtime, name))
    for _, name in sorted(entries, reverse=True)[_KEEP:]:
        shutil.rmtree(os.path.join(cache_root, name), ignore_errors=True)
