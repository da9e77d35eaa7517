"""Parquet planning metadata without Spark: which part files a path
names, whether that input has changed, and its footer column metadata.

Every footer helper in ``plans/base.py``, the book-plan memo of
``plans/book.py`` and the replay-tape memo resolve their input here, so
a file, a directory of part files and a chunk-dir glob such as
``<base>/data/*/`` name the same set of files everywhere.
"""

from __future__ import annotations

import glob
import os

__all__ = ["part_files", "identity", "column_chunks", "row_group_stats"]


def part_files(path: str) -> list[str]:
    """The parquet files ``path`` names, sorted: the ``*.parquet``
    children of a directory; for a glob, the parts of every matched
    directory plus every matched ``*.parquet`` file (an empty match
    names no files); otherwise ``[path]`` itself, so a missing file
    raises where it is opened. A path that exists is never taken as a
    glob, whatever characters its name holds."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(glob.escape(path), "*.parquet")))
    if not glob.has_magic(path) or os.path.exists(path):
        return [path]
    files: set[str] = set()
    for m in glob.glob(path):
        if os.path.isdir(m):
            files.update(glob.glob(os.path.join(glob.escape(m), "*.parquet")))
        elif m.endswith(".parquet"):
            files.add(m)
    return sorted(files)


def identity(path: str) -> tuple | None:
    """Identity of the parquet input ``path``: its absolute path, then
    the name, size and ``mtime_ns`` of every file :func:`part_files`
    resolves. A rewrite, addition or removal of a part changes it, so
    planning metadata memoized under it (the key histogram, the book
    plan, the replay tapes) is never served for a different input. None
    when a stat fails: the caller computes afresh and memoizes
    nothing."""
    ident: list = [os.path.abspath(path)]
    try:
        for f in part_files(path):
            st = os.stat(f)
            ident += [f, st.st_size, st.st_mtime_ns]
    except OSError:
        return None
    return tuple(ident)


def column_chunks(files: list[str], col: str) -> list[tuple] | None:
    """``(rows, ColumnChunkMetaData)`` of ``col`` for every row group of
    ``files``, in file order, read from the footers alone. None when a
    file lacks the column."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            out.append((g.num_rows, g.column(idx)))
    return out


def row_group_stats(files: list[str], col: str) -> list | None:
    """The ``Statistics`` of ``col`` in every row group of ``files``;
    None when a file lacks the column or a row group carries no
    min/max. Callers choose ``min``/``max`` (logical values, such as
    ``datetime``, ``date`` or ``Decimal``) or ``min_raw``/``max_raw``
    (physical values, integers for all of those)."""
    chunks = column_chunks(files, col)
    if chunks is None:
        return None
    stats = [c.statistics for _, c in chunks]
    if any(st is None or not st.has_min_max for st in stats):
        return None
    return stats
