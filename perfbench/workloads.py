"""Workload definitions: what each pass runs and how each result is checked.

An operation is one call into a ``cli_spark`` public function, split into
``build`` (the call that returns a DataFrame; a stream query runs its
stream inside this call) and ``act`` (the final ``toPandas``/``collect``/
write). Both are timed; ``check`` runs after, outside the timed region,
and raises ``WrongResult`` on a mismatch; it may return a dict of
untimed measurements (bytes written) that is kept with the operation.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

# name -> generated inputs (see inputs.generate), registry queries, HGT
# cells, and the number of warm passes after the cold one
WORKLOADS: dict[str, dict] = {
    "batch_mix": {
        "inputs": {"sf": 0.01, "tables": ALL_TABLES, "hgt_cells": 4},
        "queries": [
            "q01_pricing_summary", "q392_prefix_filter_join",
            "q440_containment_join", "q73_minhash_lsh",
        ],
        "warm_passes": 4,
    },
    "stream_replay": {
        "inputs": {"sf": 0.001, "tables": ["events"], "hgt_cells": 0},
        "queries": ["q271_streaming_multibatch_true"],
        "warm_passes": 1,
    },
}

TILE = 100  # tile side for the import path (gmalt `--sample 100 100`)
PROBES_PER_CELL = 4


class WrongResult(Exception):
    pass


class Op:
    def __init__(self, name, build, act, check, prepare=None) -> None:
        self.name, self.build, self.act, self.check = name, build, act, check
        self.prepare = prepare or (lambda: None)


# ------------------------------------------------------------------ registry

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    order = df.astype(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def compare_frames(got, want) -> None:
    """Order-insensitive exact comparison of a Spark result (pandas) with
    its DuckDB oracle: row count, column names, then every cell, with
    None/NaN treated as equal and the rendered text required to match."""
    if len(got) != len(want):
        raise WrongResult(f"row count: spark={len(got)} oracle={len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        raise WrongResult(f"columns: spark={sorted(got.columns)} oracle={sorted(want.columns)}")
    g, w = _canon(got), _canon(want)
    for col in g.columns:
        for i, (a, b) in enumerate(zip(g[col].tolist(), w[col].tolist())):
            a_null = a is None or (isinstance(a, float) and math.isnan(a))
            b_null = b is None or (isinstance(b, float) and math.isnan(b))
            if a_null and b_null:
                continue
            if a != b or str(a) != str(b):
                raise WrongResult(f"{col} row {i}: spark={a!r} oracle={b!r}")


class Oracles:
    """DuckDB over the generated tables; each oracle runs once per process."""

    def __init__(self, sf_dir: str, tables: list[str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        self._cache: dict = {}

    def result(self, name: str, sql: str):
        if name not in self._cache:
            self._cache[name] = self.con.execute(sql).df()
        return self._cache[name]


def registry_ops(spark, sf_dir: str, names: list[str], tables: list[str]) -> list[Op]:
    from cli_spark.plans.registry import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    duck = Oracles(sf_dir, tables)
    ops = []
    for name in names:
        ops.append(Op(
            name,
            build=lambda fn=queries[name]: fn(spark, sf_dir),
            act=lambda df: df.toPandas(),
            check=lambda got, n=name: compare_frames(got, duck.result(n, oracles[n])),
        ))
    return ops


# ----------------------------------------------------------------------- hgt

class HgtExpect:
    """Independent numpy expectations for the generated cells."""

    def __init__(self, hgt_dir: str) -> None:
        from cli_spark.sources.hgt import VOID, parse_cell_name

        self.cells = {}
        for f in sorted(os.listdir(hgt_dir)):
            if not f.endswith(".hgt"):
                continue
            grid = np.fromfile(os.path.join(hgt_dir, f), dtype=">i2").astype(np.int64)
            n = math.isqrt(grid.size)
            grid = grid.reshape(n, n)
            valid = grid[grid != VOID]
            self.cells[f[:-4]] = {
                "grid": grid, "n": n, "corner": parse_cell_name(f[:-4]),
                "rollup": (n * n, valid.size, int(valid.sum()), int(valid.min()), int(valid.max())),
            }
        self.bytes_in = sum(os.path.getsize(os.path.join(hgt_dir, f))
                            for f in os.listdir(hgt_dir) if f.endswith(".hgt"))
        self.void = VOID

    def probes(self, seed: int) -> list[tuple]:
        """(cell, probe, lat, lng, expected alt) — seeded sample positions on
        the grid plus one void sample per cell (every 97th sample is void)."""
        rng = np.random.default_rng([seed, 3])
        out = []
        for cell, c in self.cells.items():
            n, (la, lo) = c["n"], c["corner"]
            spots = [tuple(int(v) for v in rng.integers(0, n, 2))
                     for _ in range(PROBES_PER_CELL - 1)]
            spots.append(divmod(97 * int(rng.integers(1, n * n // 97)), n))
            for k, (r, col) in enumerate(spots):
                alt = int(c["grid"][r, col])
                out.append((cell, k, la + 1 - r / (n - 1), lo + col / (n - 1),
                            None if alt == self.void else alt))
        return out


def _check_rollup(rows, expect: HgtExpect) -> None:
    got = {r["cell"]: (r["n"], r["n_valid"], r["alt_sum"], r["alt_min"], r["alt_max"])
           for r in rows}
    want = {cell: c["rollup"] for cell, c in expect.cells.items()}
    if got != want:
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        raise WrongResult(f"rollup mismatch for cells {bad[:3]}")


def tile_stats(out_dir: str) -> dict:
    """Per-cell (tiles, samples, tile area, value sum) read back from the
    written parquet with pyarrow."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(out_dir, columns=["cell", "width", "height", "values"])
    stats = {}
    for cell in pc.unique(table["cell"]).to_pylist():
        t = table.filter(pc.equal(table["cell"], cell))
        flat = pc.list_flatten(t["values"])
        area = pc.sum(pc.multiply(t["width"].cast("int64"), t["height"].cast("int64"))).as_py()
        stats[cell] = (t.num_rows, len(flat), area, pc.sum(flat.cast("int64")).as_py())
    return stats


def written_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(out_dir)
               for f in fs if f.endswith(".parquet"))


def _check_tiles(out_dir: str, expect: HgtExpect) -> dict:
    got = tile_stats(out_dir)
    want = {}
    for cell, c in expect.cells.items():
        n = c["n"]
        want[cell] = (math.ceil(n / TILE) ** 2, n * n, n * n, int(c["grid"].sum()))
    if got != want:
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        raise WrongResult(f"tile conservation mismatch for cells {bad[:3]}")
    return {"bytes_out": written_bytes(out_dir), "bytes_in": expect.bytes_in}


def _check_lookup(rows, probes: list[tuple]) -> None:
    got = {(r["cell"], r["probe"]): r["alt"] for r in rows}
    want = {(p[0], p[1]): p[4] for p in probes}
    if got != want:
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        raise WrongResult(f"lookup mismatch at {bad[:3]}")


def hgt_ops(spark, hgt_dir: str, out_dir: str, seed: int) -> list[Op]:
    from pyspark.sql import functions as F

    from cli_spark.sources import hgt

    expect = HgtExpect(hgt_dir)
    probes = expect.probes(seed)

    def rollup():
        pts = hgt.decode_points(hgt.read_hgt(spark, hgt_dir))
        return pts.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"), F.count("alt").alias("n_valid"),
            F.sum("alt").alias("alt_sum"), F.min("alt").alias("alt_min"),
            F.max("alt").alias("alt_max"))

    def tiles():
        return hgt.decode_tiles(hgt.read_hgt(spark, hgt_dir), TILE, TILE)

    def lookup():
        pts = spark.createDataFrame([p[:4] for p in probes],
                                    "cell string, probe int, lat double, lng double")
        return hgt.read_hgt(spark, hgt_dir).join(F.broadcast(pts), "cell").select(
            "cell", "probe", hgt.point_lookup_col(F.col("lat"), F.col("lng")).alias("alt"))

    def clear_out():
        shutil.rmtree(out_dir, ignore_errors=True)

    ops = [
        Op("hgt.read_rollup", rollup, lambda df: df.collect(),
           lambda rows: _check_rollup(rows, expect)),
        Op("hgt.tiles_write", tiles,
           lambda df: df.write.mode("overwrite").parquet(out_dir),
           lambda _: _check_tiles(out_dir, expect), prepare=clear_out),
        Op("hgt.point_lookup", lookup, lambda df: df.collect(),
           lambda rows: _check_lookup(rows, probes)),
    ]
    return ops
