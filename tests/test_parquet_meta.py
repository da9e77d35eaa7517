"""Footer helpers of ``plans/base.py`` on every layout the part-file
resolver of ``sources/parquet_meta.py`` names: a single file, a
directory of parts, a chunk-dir glob (the replay-tape layout), an empty
glob, a missing column and row groups written without statistics.

The expected values are those of the helpers before they shared the
resolver and the row-group stats loop (the ``_glob_parquet_*`` twins
for the glob layouts). They pin the typed-statistics trap too:
``Statistics.min_raw`` is an ``int`` for DECIMAL, DATE and TIMESTAMP
columns, so ``parquet_col_range`` must keep reading the logical
``min``/``max`` and return None for them."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from market_microstructure_toolkit_spark.plans import base as B
from market_microstructure_toolkit_spark.sources.parquet_meta import (
    identity,
    part_files,
)

COLS = ("i32", "i64", "ts_us", "ts", "d", "dec", "f", "s", "nope")


def _table(lo: int, n: int, nulls: bool = False, ts_unit: str = "ns"):
    """Rows ``lo .. lo+n-1`` of every column type; with ``nulls`` every
    third row has NULL integers."""
    ids = range(lo, lo + n)

    def nul(v, k):
        return None if nulls and k % 3 == 2 else v

    return pa.table(
        {
            "i32": pa.array([nul(-3 * i, k) for k, i in enumerate(ids)], pa.int32()),
            "i64": pa.array(
                [nul(i * 10**12, k) for k, i in enumerate(ids)], pa.int64()
            ),
            "ts_us": pa.array([10**15 + i for i in ids], pa.timestamp("us")),
            "ts": pa.array([10**15 + 7 * i for i in ids], pa.timestamp(ts_unit)),
            "d": pa.array(
                [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in ids],
                pa.date32(),
            ),
            "dec": pa.array(
                [decimal.Decimal(i) / 100 for i in ids], pa.decimal128(18, 6)
            ),
            "f": pa.array([i / 4 for i in ids], pa.float64()),
            "s": pa.array([f"k{i:+04d}" for i in ids], pa.string()),
        }
    )


def _write_layout(root) -> None:
    """Every layout under ``root``; Spark-style ``_SUCCESS`` and stray
    non-parquet files sit next to the parts and must be ignored."""

    def write(rel, table, **kw):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(table, p, **kw)

    def touch(rel):
        with open(os.path.join(root, rel), "w") as f:
            f.write("x")

    write("single.parquet", _table(0, 5, nulls=True), row_group_size=2)
    write("parts/part-0.parquet", _table(10, 4))
    write("parts/part-1.parquet", _table(-20, 4, nulls=True), row_group_size=2)
    touch("parts/_SUCCESS")
    touch("parts/notes.txt")
    write("tape/data/a/part-0.parquet", _table(100, 3))
    write("tape/data/b/part-0.parquet", _table(103, 3, nulls=True))
    write("tape/data/c/part-0.parquet", _table(106, 2, ts_unit="ns"))
    touch("tape/data/a/_SUCCESS")
    os.makedirs(os.path.join(root, "tape/empty"), exist_ok=True)
    write("nostats.parquet", _table(0, 4), write_statistics=False)
    # the second row group holds one row, whose integers are NULL
    write("allnull.parquet", _table(0, 3, nulls=True), row_group_size=2)
    write("mixed/part-0.parquet", _table(0, 4))
    write("mixed/part-1.parquet", _table(4, 4), write_statistics=False)
    write("units/part-0.parquet", _table(0, 2))
    write("units/part-1.parquet", _table(2, 2, ts_unit="us"))
    write("us.parquet", _table(0, 3, ts_unit="us"))
    write(
        "tsnull.parquet",
        pa.table({"ts": pa.array([10**15, None], pa.timestamp("ns"))}),
    )


LAYOUTS = (
    "single.parquet",
    "parts",
    "tape/data/*/",
    "tape/empty/*/",
    "nostats.parquet",
    "allnull.parquet",
    "mixed",
)

ROWS = {
    "single.parquet": 5,
    "parts": 8,
    "tape/data/*/": 8,
    "tape/empty/*/": 0,
    "nostats.parquet": 4,
    "allnull.parquet": 3,
    "mixed": 8,
}

#: (layout, column) -> parquet_col_range; pairs not listed are None
RANGES = {
    ("single.parquet", "i32"): (-12, 0),
    ("single.parquet", "i64"): (0, 4_000_000_000_000),
    ("parts", "i32"): (-39, 60),
    ("parts", "i64"): (-20_000_000_000_000, 13_000_000_000_000),
    ("tape/data/*/", "i32"): (-321, -300),
    ("tape/data/*/", "i64"): (100_000_000_000_000, 107_000_000_000_000),
}

#: layout -> parquet_ts_range; the glob's value is the union of its
#: three chunk directories' ranges
TS = {
    "single.parquet": (1_000_000_000_000_000, 1_000_000_000_000_028, 1_000_000),
    "parts": (999_999_999_999_860, 1_000_000_000_000_091, 1_000_000),
    "tape/data/*/": (1_000_000_000_000_700, 1_000_000_000_000_749, 1_000_000),
    "tape/empty/*/": None,
    "nostats.parquet": None,
    "allnull.parquet": (1_000_000_000_000_000, 1_000_000_000_000_014, 1_000_000),
    "mixed": None,
    "units": None,
    "us.parquet": (1_000_000_000_000_000, 1_000_000_000_000_014, 1_000),
    "tsnull.parquet": None,
}


@pytest.fixture(scope="module")
def root(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("parquet_meta")
    _write_layout(str(d))
    return str(d)


def test_part_files_resolves_each_layout(root):
    def rel(path):
        return [os.path.relpath(f, root) for f in part_files(os.path.join(root, path))]

    assert rel("single.parquet") == ["single.parquet"]
    assert rel("parts") == ["parts/part-0.parquet", "parts/part-1.parquet"]
    assert rel("tape/data/*/") == [
        "tape/data/a/part-0.parquet",
        "tape/data/b/part-0.parquet",
        "tape/data/c/part-0.parquet",
    ]
    assert rel("tape/data/*/*.parquet") == rel("tape/data/*/")
    assert rel("tape/empty/*/") == []
    assert rel("absent.parquet") == ["absent.parquet"]


def test_part_files_takes_existing_paths_literally(tmp_path):
    f = tmp_path / "ev[1].parquet"
    pq.write_table(_table(0, 2), f)
    assert part_files(str(f)) == [str(f)]
    d = tmp_path / "parts[a]"
    d.mkdir()
    pq.write_table(_table(0, 3), d / "part-0.parquet")
    assert B.parquet_rows(str(d)) == 3
    assert B.parquet_rows(str(f)) == 2


@pytest.mark.parametrize("layout", LAYOUTS)
def test_parquet_rows(root, layout):
    assert B.parquet_rows(os.path.join(root, layout)) == ROWS[layout]


@pytest.mark.parametrize("layout", LAYOUTS)
@pytest.mark.parametrize("col", COLS)
def test_parquet_col_range(root, layout, col):
    got = B.parquet_col_range(os.path.join(root, layout), col)
    assert got == RANGES.get((layout, col))
    if got is not None:
        assert all(type(v) is int for v in got)


@pytest.mark.parametrize("layout", sorted(TS))
def test_parquet_ts_range(root, layout):
    assert B.parquet_ts_range(os.path.join(root, layout)) == TS[layout]


def test_missing_file_raises(root):
    with pytest.raises(OSError):
        B.parquet_rows(os.path.join(root, "absent.parquet"))


@pytest.mark.parametrize("layout", LAYOUTS)
@pytest.mark.parametrize("col", COLS)
def test_column_pull_fits_default_limits(monkeypatch, root, layout, col):
    monkeypatch.delenv("SPARK_GRAFT_PULL_MAX_BYTES", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_PULL_MAX_ROWS", raising=False)
    files = part_files(os.path.join(root, layout))
    # no files: nothing to decode, so the gate holds vacuously
    assert B._column_pull_fits(files, col) is (col != "nope" or not files)


def test_glob_twins_are_the_plain_helpers():
    assert B._glob_parquet_rows is B.parquet_rows
    assert B._glob_parquet_col_range is B.parquet_col_range


def test_identity_tracks_every_part(root, tmp_path):
    import shutil

    d = str(tmp_path / "events.parquet")
    shutil.copytree(os.path.join(root, "parts"), d)
    first = identity(d)
    assert first is not None and first[0] == os.path.abspath(d)
    assert identity(d) == first
    # a non-parquet sibling is not part of the input
    with open(os.path.join(d, "_SUCCESS"), "w") as f:
        f.write("changed")
    assert identity(d) == first
    pq.write_table(_table(0, 9), os.path.join(d, "part-1.parquet"))
    assert identity(d) != first
    assert identity(str(tmp_path / "absent.parquet")) is None
