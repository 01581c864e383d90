"""Bytes on disk and parquet files of a collection, per family directory
and per sub-table.

    python tools/storage_report.py <collection root>

``<collection root>`` is one collection's directory (the one holding
``collection.json``, ``data/`` and its index directories). Each top-level
directory is a family row (``data/``, ``index/``, ``minhash_index/``, ...),
followed by one indented row per sub-table: a subdirectory that is not a
``key=value`` partition (partitions count toward their table). Bytes are
every file under the directory, checksums and markers included; files
counts only ``*.parquet``. The last row is the whole root, loose sidecars
included.
"""

from __future__ import annotations

import os
import sys


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes of every file, number of ``*.parquet`` files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def _subdirs(path: str) -> list[str]:
    return sorted(
        d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))
    )


def report(root: str) -> list[tuple[int, int, str]]:
    """``(bytes, parquet files, label)`` rows, families first, then their
    sub-tables indented, then the ``total`` row."""
    rows = []
    for fam in _subdirs(root):
        fam_path = os.path.join(root, fam)
        rows.append((*tree_bytes(fam_path), f"{fam}/"))
        for sub in _subdirs(fam_path):
            if "=" not in sub:
                rows.append((*tree_bytes(os.path.join(fam_path, sub)),
                             f"  {fam}/{sub}/"))
    rows.append((*tree_bytes(root), "total"))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    print(f"{'bytes':>12}  {'MB':>8}  {'files':>6}  path")
    for nbytes, files, label in report(argv[0]):
        print(f"{nbytes:>12}  {nbytes / 1e6:>8.2f}  {files:>6}  {label}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
