"""File-level views of lake directories: data-file sizes and read-back of
partitioned parquet tables with pyarrow, independent of Spark.

Data files are the ones Spark and pyarrow readers see: names starting
with ``.`` or ``_`` (checksums, ``_SUCCESS``, staging and swap
directories) are skipped at every level.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds


def data_files(root: str) -> dict[str, int]:
    """path -> size of every data file under ``root``."""
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    for cur, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(cur, f)
                out[p] = os.path.getsize(p)
    return out


def tree_bytes(root: str) -> int:
    return sum(data_files(root).values())


def read_rows(root: str, partitions: tuple[str, ...], columns: list[str] | None = None) -> list[dict]:
    """Rows of a hive-partitioned parquet table, partition values as strings."""
    part = ds.partitioning(pa.schema([(p, pa.string()) for p in partitions]), flavor="hive")
    return ds.dataset(root, format="parquet", partitioning=part).to_table(columns=columns).to_pylist()
