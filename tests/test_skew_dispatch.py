"""Round-10 (round-9 verdict #1): the size-dispatch hints must see SKEW.

The old ``book_rows_per_key`` hint divided footer rowcount by 4 — an
average that equals the max only because the fixtures are uniform by
construction. These tests run against a skewed twin fixture
(``tools/make_skew_fixture.py``: one symbol holds ~93% of book rows,
one source ~90% of documents) and pin three facts:

1. the hint measures the MAX per-key count, not the average;
2. a threshold set between the average and the max sends the skewed
   fixture down the segmented path while the uniform twin stays plain —
   i.e. the hot key, and only the hot key, triggers dispatch;
3. on the skewed fixture the plain and segmented paths stay row-set
   identical AND hash-exact against the DuckDB oracle reading the same
   skewed parquet — dispatch changes the physical plan, never values.
"""

from __future__ import annotations

import os

import pytest

SRC = "/root/testdata/sf0.001"

# gates covering each segmented mechanism, all book/trade-keyed (the
# tier the hot-symbol skew actually hits): gap-reset RV (series_stages),
# cumulative OFI (segmented cumsum), as-of carries (segmented fills),
# VPIN (segmented Lee-Ready carry + bucket cumsum), cross-asset align
# (as-of union carry over two series)
GATES = [
    "book_rv_reset",
    "book_ofi_lobster_cum",
    "book_asof_join",
    "trade_vpin",
    "book_cross_asset_align",
]


@pytest.fixture(scope="session")
def skew_dir(tmp_path_factory) -> str:
    from tools.make_skew_fixture import make_skew_dir

    return make_skew_dir(SRC, str(tmp_path_factory.mktemp("skew") / "sf"))


def test_hint_reports_max_not_average(skew_dir):
    from market_microstructure_toolkit_spark.plans.base import (
        book_rows_per_key,
        parquet_rows,
    )

    n = parquet_rows(f"{skew_dir}/events.parquet")
    avg = n // 4
    mx = book_rows_per_key(skew_dir)
    # the skew plant puts ~90% of rows on one residue class; an
    # average-based hint would report n/4 and miss the hot key by >3x
    assert mx > 3 * avg, (mx, avg)
    assert mx >= int(0.85 * n)


def test_hot_key_crosses_threshold_uniform_does_not(skew_dir, monkeypatch):
    from market_microstructure_toolkit_spark.operators import window_metrics as W
    from market_microstructure_toolkit_spark.operators.window_metrics import (
        use_segmented,
    )
    from market_microstructure_toolkit_spark.plans.base import (
        book_rows_per_key,
        parquet_rows,
    )

    n = parquet_rows(f"{skew_dir}/events.parquet")
    monkeypatch.setattr(W, "SEG_THRESHOLD_ROWS", n // 2)
    assert use_segmented(book_rows_per_key(skew_dir))
    assert not use_segmented(book_rows_per_key(SRC))


def _gate_rows(spark, name, sf_dir):
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    df = REGISTRY[name].spark(spark, sf_dir)
    return df, sorted(map(repr, df.collect()))


@pytest.mark.parametrize("name", GATES)
def test_skew_parity_plain_vs_segmented_vs_oracle(
    spark, monkeypatch, name, skew_dir
):
    import duckdb

    from market_microstructure_toolkit_spark.operators import window_metrics as W
    from market_microstructure_toolkit_spark.plans.base import (
        REGISTRY,
        parquet_rows,
    )
    from tools.check_oracle import canon_hash

    n = parquet_rows(f"{skew_dir}/events.parquet")
    # threshold between avg (n/4) and the hot key (~0.9n): the real
    # dispatch decision, not a force — the hot key alone crosses it
    monkeypatch.setattr(W, "SEG_THRESHOLD_ROWS", n // 2)
    df_seg, seg = _gate_rows(spark, name, skew_dir)
    # far above everything: plain path
    monkeypatch.setattr(W, "SEG_THRESHOLD_ROWS", 10 * n)
    _, plain = _gate_rows(spark, name, skew_dir)
    assert plain == seg, f"{name}: segmented path diverges under skew"

    sql = REGISTRY[name].sql
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = f"{skew_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    want_h, want_cols, want_n = canon_hash(con.execute(sql).fetchdf())
    got_h, got_cols, got_n = canon_hash(df_seg.toPandas())
    assert (got_n, got_cols) == (want_n, want_cols)
    assert got_h == want_h, f"{name}: skew-fixture oracle hash mismatch"
