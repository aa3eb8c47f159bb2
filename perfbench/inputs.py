"""Seeded input generator: (seed, nproc) -> a directory of parquet tables.

The base tables under ``perfbench/data`` are the sf0.01 synthetic
fixtures (TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``). For a seed, every table's rows are permuted and split
into ``nproc`` parquet files at ``<root>/s<seed>-p<nproc>/<table>.parquet/``.
Values are never changed, so every seed does the same work and must give
the same query results; only row order and file layout differ. Each seed
gets its own path, so a run never reuses another run's session staging.

Pure function of (seed, nproc): the same pair writes byte-identical
files. Runs in pyarrow, not Spark; the engine only sees the path.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

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


def input_dir(root: str, seed: int, nproc: int) -> str:
    return os.path.join(root, f"s{seed}-p{nproc}")


def generate(root: str, seed: int, nproc: int) -> str:
    """Write the seeded tables under ``root`` and return their directory.

    The directory is rebuilt from scratch on every call, so a partial
    earlier write never survives.
    """
    out = input_dir(root, seed, nproc)
    if os.path.exists(out):
        shutil.rmtree(out)
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
        # one independent stream per table, so adding a table later
        # does not reshuffle the others
        rng = np.random.default_rng([seed, i])
        table = table.take(rng.permutation(table.num_rows))
        tdir = os.path.join(out, f"{name}.parquet")
        os.makedirs(tdir)
        bounds = np.linspace(0, table.num_rows, nproc + 1).astype(int)
        for part in range(nproc):
            lo, hi = int(bounds[part]), int(bounds[part + 1])
            pq.write_table(
                table.slice(lo, hi - lo),
                os.path.join(tdir, f"part-{part:05d}.parquet"),
            )
    return out
