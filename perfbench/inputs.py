"""Seeded benchmark inputs: row-order permutations of the sf0.1 tables.

``perfbench/sf0.1/`` holds unmodified copies of the ten sf0.1 tables that the
repository's bench runs on (TESTDATA.md, FIXTURES.md). A run writes every
table, its rows permuted by the run seed, into a fresh directory, and the
program reads only that directory. Schema (with its Arrow and pandas
metadata), row count, row-group count and compression stay the source's, so
the same seed writes byte-identical files and two seeds write the same row
multiset in different orders.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

SRC_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")

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


def write_permuted(src: str, dst: str, rng: np.random.Generator) -> None:
    """Write ``src`` to ``dst`` with its rows in a random order and its
    row-group count and compression kept."""
    f = pq.ParquetFile(src)
    meta = f.metadata
    table = f.read()
    table = table.take(rng.permutation(table.num_rows))
    pq.write_table(
        table,
        dst,
        row_group_size=max(1, math.ceil(meta.num_rows / meta.num_row_groups)),
        compression=meta.row_group(0).column(0).compression.lower(),
    )


def generate(dst_dir: str, seed: int) -> str:
    """Write every table, permuted by ``seed``, into a fresh ``dst_dir``."""
    if os.path.isdir(dst_dir):
        shutil.rmtree(dst_dir)
    os.makedirs(dst_dir)
    for i, name in enumerate(TABLES):
        write_permuted(
            os.path.join(SRC_DIR, f"{name}.parquet"),
            os.path.join(dst_dir, f"{name}.parquet"),
            np.random.default_rng([seed, i]),
        )
    return dst_dir
