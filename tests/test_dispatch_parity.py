"""Window-dispatch audit: every gate that size-dispatches to a
segmented scale path must produce IDENTICAL results on both paths.

Forcing the dispatch by patching ``SEG_THRESHOLD_ROWS`` to 0 at sf0.001
and comparing row-set equality against the plain path (threshold at its
default, far above the fixture sizes) pins:

- the W6 gap-group <-> gated-raw-frame equivalence (book_rv_reset),
- the chained-lag chunk pipelines (book_return_acf, book_tsrv),
- the segmented Lee-Ready carry (add_running_last_segmented) and the
  VPIN bucket cumsum (trade gates),
- the forward-halo lookahead (trade_effective_spread's lead-20).
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

DISPATCHED = [
    "book_rv_reset",
    "book_return_acf",
    "book_tsrv",
    "trade_signs_lee_ready",
    "trade_vpin",
    "trade_kyle_lambda",
    "trade_effective_spread",
    "trade_mrr_decomposition",
    "trade_sign_autocorrelation",
    # the as-of union-window carries (segmented forward-fill)
    "book_cross_asset_align",
    "trade_realized_spread",
    "book_asof_tolerance",
    # corpus-adaptive df guard resolves identically at tiny SFs; the
    # gates run here to pin that the "auto" plumbing is a no-op below
    # the floor
    "dedup_winnow",
    "dedup_ngram_jaccard",
    # the round-8 dispatches, re-pinned under the same harness
    "book_ofi_lobster_cum",
    # the round-9 window-audit sweep: every remaining growth-class
    # per-key ordered window now dispatches through series_stages /
    # the segmented carries / the segmented-rank positional phase
    "book_roll_amihud",
    "book_bipower_jump",
    "book_hayashi_yoshida",
    "book_l1_event_inference",
    "book_intraday_seasonality",
    "book_realized_cov_matrix",
    "recorder_grid_sample",
    "book_rv_signature",
    "book_corwin_schultz",
    "book_ofi_predictive_r2",
    "book_imbalance_cond_returns",
    "book_nonce_gap_audit",
    "trade_split_adjust",
    "book_train_matrix",
    "book_time_weighted_mid",
    "book_delta_reconstruct",
    "book_feature_auc",
    "book_slice_sample",
    "pack_sequences",
    "events_zorder_layout",
    "book_asof_join",
    "trade_volume_bars",
]


def _rows(spark, name):
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    df = REGISTRY[name].spark(spark, SF_DIR)
    return sorted(map(repr, df.collect())), df.columns


@pytest.mark.parametrize("name", DISPATCHED)
def test_plain_and_segmented_paths_agree(spark, monkeypatch, name):
    from market_microstructure_toolkit_spark.operators import window_metrics as W

    plain, cols_p = _rows(spark, name)
    monkeypatch.setattr(W, "SEG_THRESHOLD_ROWS", 0)
    seg, cols_s = _rows(spark, name)
    assert cols_p == cols_s
    assert len(plain) == len(seg)
    assert plain == seg


def test_running_last_segmented_matches_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from market_microstructure_toolkit_spark.operators.window_metrics import (
        add_running_last_segmented,
    )

    rows = [
        ("A", i, None if i % 3 else f"v{i}") for i in range(200)
    ] + [("B", i, None) for i in range(50)] + [("C", 0, "only")]
    df = spark.createDataFrame(rows, "k string, t long, x string")
    w = (
        Window.partitionBy("k")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = sorted(
        map(
            repr,
            df.withColumn(
                "ff", F.last("x", ignorenulls=True).over(w)
            ).collect(),
        )
    )
    got = sorted(
        map(
            repr,
            add_running_last_segmented(
                df, "x", out_col="ff", keys=("k",), order_col="t",
                n_segments=7,
            )
            .select("k", "t", "x", "ff")
            .collect(),
        )
    )
    assert got == want


def test_lookahead_halo_matches_lead(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from market_microstructure_toolkit_spark.operators.window_metrics import (
        rolling_segmented,
    )

    df = spark.createDataFrame(
        [("A", i, float(i * i % 97)) for i in range(500)],
        "k string, t long, x double",
    )
    w = Window.partitionBy("k").orderBy("t")
    want = sorted(
        map(
            repr,
            df.withColumn("nxt", F.lead("x", 7).over(w))
            .select("k", "t", "nxt")
            .collect(),
        )
    )
    got = sorted(
        map(
            repr,
            rolling_segmented(
                df,
                lambda ww: {"nxt": F.lead("x", 7).over(ww)},
                window=1,
                lookahead=7,
                keys=("k",),
                order_col="t",
                n_chunks=9,
                n_segments=11,
            )
            .select("k", "t", "nxt")
            .collect(),
        )
    )
    assert got == want
