"""Seeded benchmark inputs.

The base tables under ``perfbench/data/<scale>/`` are the repository's
deterministic synthetic TPC-H-style star schema plus the ``events``,
``documents`` and ``embeddings`` tables. A seed selects a row permutation of
every table; the permuted copy is written once per (scale, seed) with
pyarrow, outside any timed region, and reused by later runs with the same
seed. Every query result is independent of row order, so each seed must give
the same answers -- the verification in ``workloads`` checks exactly that.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
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


def base_dir(scale: str) -> str:
    return os.path.join(HERE, "data", scale)


def seeded_tables(scale: str, seed: int, work: str) -> str:
    """Directory holding the seed's permutation of every base table."""
    root = os.path.join(work, "inputs")
    out = os.path.join(root, f"{scale}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    # one seed's tables at a time: drop copies made for other seeds
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        table = pq.read_table(os.path.join(base_dir(scale), f"{t}.parquet"))
        pq.write_table(table.take(rng.permutation(table.num_rows)), os.path.join(out, f"{t}.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def row_counts(sf_dir: str, tables) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for t in tables}
