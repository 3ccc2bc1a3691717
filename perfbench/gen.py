"""Seeded inputs for the benchmark: row permutations of the test tables.

``data/`` holds a copy of the repository's synthetic sf 0.01 test tables
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each), the tables the oracle-parity tests
read. A run writes every table to its own input directory with the rows
in an order the seed fixes, one single-row-group file per table as in
the source. Values, schemas and row counts are the tables' own, and so
is every distribution the engine meets: the near-duplicate documents,
key skew, and ship dates that follow order dates.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
SF = 0.01
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def write_inputs(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table, rows permuted by ``seed``, as
    ``out_dir/<table>.parquet``; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name in TABLES:
        table = pq.read_table(DATA / f"{name}.parquet")
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        counts[name] = table.num_rows
    return counts
