"""Seeded inputs for the benchmark: permuted, replicated copies of the
engine's sf0.01 test tables.

``sf0.01/`` next to this file is a verbatim copy of the engine's sf0.01
test data (the ten tables TESTDATA.md describes), so every workload
reads the value distributions the engine's correctness gate reads.
``--seed`` selects a per-table row permutation of those tables; the
rows, and so every oracle's answer, stay the same.  The permuted tables
are then replicated by the repository's own ``tools/build_scale_replica.py``
(per-copy id shifts on the fact tables, dimensions carried through
once, and with ``--extend-time`` event timestamps tiled end to end).
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
SOURCE = HERE / "sf0.01"
REPLICA_TOOL = HERE.parent / "tools" / "build_scale_replica.py"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def permute(table: pa.Table, seed: int, salt: int) -> pa.Table:
    """Rows of ``table`` in the order ``seed`` selects (the same order for
    the same seed and table)."""
    order = np.random.default_rng([seed, salt]).permutation(table.num_rows)
    return table.take(pa.array(order))


def write_permuted(out_dir: str, seed: int) -> None:
    """Every source table, rows permuted by ``seed``, as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for salt, name in enumerate(TABLES):
        table = pq.read_table(SOURCE / f"{name}.parquet")
        pq.write_table(permute(table, seed, salt), os.path.join(out_dir, f"{name}.parquet"))


def write_replica(src_dir: str, out_dir: str, copies: int, *, extend_time: bool = False) -> None:
    """``copies`` copies of the tables in ``src_dir``, built by the
    repository's replica tool into ``out_dir``."""
    cmd = [sys.executable, str(REPLICA_TOOL), src_dir, out_dir, str(copies)]
    if extend_time:
        cmd.append("--extend-time")
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)


def write_inputs(out_dir: str, seed: int, copies: int, *, extend_time: bool = False) -> str:
    """The seed-permuted tables under ``<out_dir>/base`` and their
    ``copies``-fold replica in ``out_dir``; returns the base directory."""
    base = os.path.join(out_dir, "base")
    write_permuted(base, seed)
    write_replica(base, out_dir, copies, extend_time=extend_time)
    return base


def row_counts(data_dir: str, tables: tuple[str, ...] = TABLES) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in tables}
