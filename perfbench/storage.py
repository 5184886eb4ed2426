"""Warehouse storage counters: what an op created on disk.

A listing maps each file to its (inode, mtime, size); a file counts as
created when its path is new or its identity changed, which covers the
catalog's tmp-file-plus-rename metadata writes. Parquet part files are
data; everything else (commit markers, checksums, JSON metadata) is
metadata.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow.parquet as pq

Listing = dict[str, tuple[int, int, int]]


def listing(root: str) -> Listing:
    out: Listing = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed while walking
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def is_data(path: str) -> bool:
    return path.endswith(".parquet") and not os.path.basename(path).startswith(".")


@dataclass
class Written:
    data_bytes: int = 0
    meta_bytes: int = 0
    data_files: int = 0
    meta_files: int = 0

    @property
    def bytes(self) -> int:
        return self.data_bytes + self.meta_bytes

    def add(self, before: Listing, after: Listing) -> None:
        for p, ident in after.items():
            if before.get(p) == ident:
                continue
            if is_data(p):
                self.data_bytes += ident[2]
                self.data_files += 1
            else:
                self.meta_bytes += ident[2]
                self.meta_files += 1


def new_data_rows(before: Listing, after: Listing, under: str) -> int:
    """Rows in the parquet data files created under ``under``."""
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p, ident in after.items()
        if p.startswith(under + os.sep) and is_data(p) and before.get(p) != ident
    )


def live_bytes(table_dirs: list[str]) -> int:
    """Bytes of the data files of each table's live version (hidden
    version/staging siblings excluded)."""
    total = 0
    for t in table_dirs:
        for d, dirs, files in os.walk(t):
            dirs[:] = [x for x in dirs if not x.startswith(".")]
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in files if is_data(os.path.join(d, f)))
    return total


def total_bytes(root: str) -> int:
    return sum(ident[2] for ident in listing(root).values())
