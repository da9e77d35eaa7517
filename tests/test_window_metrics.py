"""Window/series operator tests: exact reference values (OFI -0.8 case,
tests/test_metrics.py:133-150) and pandas-oracle recomputation for RV,
including the reset-on-gap variant (metrics.py:196-232)."""

from __future__ import annotations

import math
import random
from fractions import Fraction

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from market_microstructure_toolkit_spark import schema as S
from market_microstructure_toolkit_spark.operators import window_metrics as W

KEYS = ("exchange_id", "symbol")


def _series_df(spark, rows, depth=1):
    schema = S.book_schema(depth)
    full = []
    for i, r in enumerate(rows):
        base = dict(
            ts_ms=1_700_000_000_000 + i * 1000,
            iso=None,
            exchange_id="fake",
            symbol="BTC/USDT",
            book_level="L2",
            raw_nonce=i,
            best_bid=r.get("bid1_price"),
            best_ask=r.get("ask1_price"),
        )
        for c in S.level_cols(depth):
            base[c] = r.get(c)
        full.append(tuple(base.get(f.name) for f in schema.fields))
    return spark.createDataFrame(full, schema)


def test_ofi_strict_reference_case(spark):
    # reference tests/test_metrics.py:133-150: bid 100.0->100.1 size
    # 1.0->1.2 (up: +0.2), ask 100.1->100.2 size 1.0->0.9 (up: -1.0)
    rows = [
        dict(bid1_price=100.0, bid1_size=1.0, ask1_price=100.1, ask1_size=1.0),
        dict(bid1_price=100.1, bid1_size=1.2, ask1_price=100.2, ask1_size=0.9),
    ]
    out = W.add_ofi_l1(_series_df(spark, rows), mode="strict").orderBy("ts_ms").collect()
    assert out[0]["ofi_l1"] is None  # first row: no previous state
    assert abs(out[1]["ofi_l1"] - (-0.8)) < 1e-12


def test_ofi_strict_equal_prices_zero(spark):
    rows = [
        dict(bid1_price=100.0, bid1_size=1.0, ask1_price=100.1, ask1_size=1.0),
        dict(bid1_price=100.0, bid1_size=5.0, ask1_price=100.1, ask1_size=9.0),
    ]
    out = W.add_ofi_l1(_series_df(spark, rows), mode="strict").orderBy("ts_ms").collect()
    assert out[1]["ofi_l1"] == 0.0


def test_ofi_strict_any_missing_is_null(spark):
    rows = [
        dict(bid1_price=100.0, bid1_size=1.0, ask1_price=100.1, ask1_size=None),
        dict(bid1_price=100.1, bid1_size=1.2, ask1_price=100.2, ask1_size=0.9),
    ]
    out = W.add_ofi_l1(_series_df(spark, rows), mode="strict").orderBy("ts_ms").collect()
    assert out[1]["ofi_l1"] is None


def test_ofi_kyle_matches_pandas_oracle(spark):
    # Recompute with the reference's vectorized pandas formula
    # (event_metrics.py:84-105) and compare — the F2 fixture price path.
    import numpy as np
    import pandas as pd

    bb = [100.0, 100.5, 100.5, 100.4, 100.6]
    ba = [100.2, 100.6, 100.6, 100.5, 100.7]
    qb = [10.0, 12.0, 8.0, 9.0, 11.0]
    qa = [9.0, 7.0, 7.5, 8.0, 7.0]
    rows = [
        dict(bid1_price=b, bid1_size=s, ask1_price=a, ask1_size=t)
        for b, s, a, t in zip(bb, qb, ba, qa)
    ]
    out = W.add_ofi_l1(_series_df(spark, rows), mode="kyle").orderBy("ts_ms").collect()

    s_bb, s_ba = pd.Series(bb), pd.Series(ba)
    s_qb, s_qa = pd.Series(qb).fillna(0.0), pd.Series(qa).fillna(0.0)
    bb_prev, ba_prev = s_bb.shift(1), s_ba.shift(1)
    qb_prev, qa_prev = s_qb.shift(1).fillna(0.0), s_qa.shift(1).fillna(0.0)
    dB = ((s_bb >= bb_prev) | bb_prev.isna()).astype(float) * s_qb - (
        (s_bb <= bb_prev) | bb_prev.isna()
    ).astype(float) * qb_prev
    dA = ((s_ba <= ba_prev) | ba_prev.isna()).astype(float) * s_qa - (
        (s_ba >= ba_prev) | ba_prev.isna()
    ).astype(float) * qa_prev
    ofi = (dB - dA).tolist()
    ofi[0] = 0.0
    for got, exp in zip(out, ofi):
        assert abs(got["ofi_l1"] - exp) < 1e-12


def test_rv_pandas_semantics(spark):
    import pandas as pd
    import numpy as np

    prices = [100.0, 100.05, 100.10, 100.12, 100.11, 100.2, 100.3]
    rows = [dict(bid1_price=p, bid1_size=1.0, ask1_price=p, ask1_size=1.0) for p in prices]
    df = _series_df(spark, rows)
    df = df.withColumn("mid", (df.best_bid + df.best_ask) / 2)
    df = W.add_log_return(df, "mid", out_col="ret")
    out = W.add_rolling_rv(df, "ret", window=3, out_col="rv").orderBy("ts_ms").collect()

    r = np.log(pd.Series(prices, dtype="float64")).diff()
    exp = r.pow(2).rolling(window=3, min_periods=3).sum()
    for got, e in zip(out, exp):
        if math.isnan(e):
            assert got["rv"] is None
        else:
            assert abs(got["rv"] - e) < 1e-15


def _reference_reset_rv(prices, window):
    """Pure-Python reimplementation of metrics.py:196-232 for oracle."""
    n = len(prices)
    if window <= 1:
        return [None] * n
    rets = [None]
    for t in range(1, n):
        p0, p1 = prices[t - 1], prices[t]
        if p0 is None or p1 is None or p0 <= 0 or p1 <= 0:
            rets.append(None)
        else:
            rets.append(math.log(p1 / p0))
    out, acc, q = [], 0.0, []
    for t in range(n):
        r = rets[t]
        if r is None:
            out.append(None)
            q.clear()
            acc = 0.0
            continue
        r2 = r * r
        q.append(r2)
        acc += r2
        if len(q) > window:
            acc -= q.pop(0)
        out.append(acc if len(q) == window else None)
    return out


def test_rv_reset_on_gap(spark):
    prices = [100.0, 100.1, 100.2, None, 100.3, 100.4, 100.5, 100.6, 100.2, 100.1]
    rows = [
        dict(
            bid1_price=p,
            bid1_size=1.0 if p else None,
            ask1_price=p,
            ask1_size=1.0 if p else None,
        )
        for p in prices
    ]
    df = _series_df(spark, rows)
    df = df.withColumn("mid", (df.best_bid + df.best_ask) / 2)
    out = (
        W.add_rolling_rv_reset(df, "mid", window=3, out_col="rv")
        .orderBy("ts_ms")
        .collect()
    )
    exp = _reference_reset_rv(prices, 3)
    for got, e in zip(out, exp):
        if e is None:
            assert got["rv"] is None
        else:
            assert abs(got["rv"] - e) < 1e-12


def test_cumulative_and_tail(spark):
    rows = [
        dict(bid1_price=100.0 + i, bid1_size=float(i), ask1_price=101.0 + i, ask1_size=1.0)
        for i in range(10)
    ]
    df = _series_df(spark, rows)
    out = W.add_cumulative(df, "bid1_size", out_col="c").orderBy("ts_ms").collect()
    assert [r["c"] for r in out] == [sum(range(i + 1)) for i in range(10)]
    assert W.tail_n(df, 4).count() == 4


def test_slice_indices_matches_linspace():
    import numpy as np

    for n, k in [(60, 20), (100, 7), (5, 10), (1, 3)]:
        exp = sorted({int(round(v)) for v in np.linspace(0, n - 1, k)})
        assert W.slice_indices(n, k) == exp


def test_slice_indices_single_slice_returns_last():
    # reference impact.py:219-220: slices <= 1 -> [df.index[-1]]
    assert W.slice_indices(10, 1) == [9]
    assert W.slice_indices(10, 0) == [9]
    assert W.slice_indices(0, 1) == []


def test_mid_anomaly_flags_spike(spark):
    """A flat mid series with one spike: the spike row (and only it)
    crosses |z| > 3 once 20 priors exist; the trailing window excludes
    the current row so the spike can't inflate its own baseline."""
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY  # noqa: F401
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W_

    rows = []
    for i in range(40):
        # tiny jitter so sd > 0; spike at i == 30
        mid = 100.0 + (0.001 * (i % 3)) + (5.0 if i == 30 else 0.0)
        rows.append(("sim", "S0", 1000 + i, i, mid - 0.01, mid + 0.01))
    df = spark.createDataFrame(
        rows,
        "exchange_id string, symbol string, ts_ms long, raw_nonce long,"
        " best_bid double, best_ask double",
    )
    w = W_.partitionBy("exchange_id", "symbol").orderBy(
        "ts_ms", "raw_nonce"
    ).rowsBetween(-49, -1)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    feat = df.select(
        "raw_nonce", mid.alias("mid"),
        F.avg(mid).over(w).alias("mu"),
        F.stddev_samp(mid).over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_prev"),
    )
    ok = (F.col("n_prev") >= 20) & (F.col("sd") > 1e-12)
    z = (F.col("mid") - F.col("mu")) / F.col("sd")
    out = {
        r["raw_nonce"]: r["flag"]
        for r in feat.select(
            "raw_nonce",
            F.when(ok & (F.abs(z) > 3.0), 1).otherwise(0).alias("flag"),
        ).collect()
    }
    assert out[30] == 1
    assert sum(out.values()) == 1  # only the spike fires
    assert out[5] == 0  # pre-warmup rows can't fire


def test_events_retention_offsets(spark):
    """Hand-built log: user 1 active on days 0 and 2, user 2 on day 0
    only -> cohort day0 has 2 users at offset 0, 1 user at offset 2."""
    import pyspark.sql.functions as F
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    import pandas as pd

    day_ns = 86400000 * 1000000
    rows = [
        (1, 10 * day_ns), (1, 10 * day_ns + 5), (1, 12 * day_ns),
        (2, 10 * day_ns),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long")
    days = ev.select(
        "user_id",
        (F.expr("ts DIV 1000000") / F.lit(86400000)).cast("long").alias("day"),
    ).distinct()
    cohorts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    out = {
        (r["cohort_day"], r["day_offset"]): r["n"]
        for r in days.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out[(10, 0)] == 2
    assert out[(10, 2)] == 1
    assert len(out) == 2


def test_roll_spread_on_bid_ask_bounce(spark):
    """Roll (1984) sanity: a mid bouncing ±1 around value gives Δmid
    alternating ±2, first-order autocovariance ≈ −4, estimator
    2·sqrt(−cov). Expected value computed with numpy's sample covariance
    on the same lagged pairs the query builds."""
    import numpy as np
    import pytest
    from pyspark.sql import Window, functions as F

    mids = [100.0 + (1.0 if i % 2 == 0 else -1.0) for i in range(40)]
    rows = [(i, m) for i, m in enumerate(mids)]
    df = spark.createDataFrame(rows, "ts_ms long, mid double")
    w = Window.orderBy("ts_ms").partitionBy(F.lit(1))
    staged = df.withColumn("d", F.col("mid") - F.lag("mid").over(w))
    diffs = staged.withColumn("d_prev", F.lag("d").over(w))
    got = diffs.agg(
        (2.0 * F.sqrt(F.greatest(-F.covar_samp("d", "d_prev"), F.lit(0.0))))
        .alias("roll")
    ).collect()[0]["roll"]
    d = np.diff(mids)
    pairs = np.array([(d[i], d[i - 1]) for i in range(1, len(d))])
    cov = np.cov(pairs[:, 0], pairs[:, 1], ddof=1)[0, 1]
    assert got == pytest.approx(2.0 * math.sqrt(max(0.0, -cov)), rel=1e-9)
    assert got == pytest.approx(4.0, rel=0.05)  # 2c bounce -> ~2*2c


class TestNarrowWindowGraft:
    def test_equals_direct_window_and_broadcasts(self, spark, sf_dir):
        """with_narrow_window must produce exactly the direct-window
        values, via a BroadcastHashJoin, with no wide-row shuffle."""
        from pyspark.sql import functions as F

        from market_microstructure_toolkit_spark.operators.window_metrics import (
            add_log_return,
            add_ofi_l1,
            add_rolling_rv,
            with_narrow_window,
        )
        from market_microstructure_toolkit_spark.plans.book import (
            synthetic_book,
        )

        book = synthetic_book(spark, sf_dir).filter(F.col("symbol") == "S0")

        def series(df):
            s = add_log_return(df, price_col="mid", out_col="__ret")
            s = add_rolling_rv(s, ret_col="__ret", window=20, out_col="rv")
            return add_ofi_l1(s, out_col="ofi_l1").drop("__ret")

        mid = ((F.col("best_bid") + F.col("best_ask")) / 2).alias("mid")
        wide = book.select("*", mid)
        direct = series(wide).select("ts_ms", "raw_nonce", "rv", "ofi_l1")
        grafted = with_narrow_window(
            wide,
            id_cols=("ts_ms", "raw_nonce"),
            input_cols=(
                "exchange_id",
                "symbol",
                "mid",
                "bid1_price",
                "bid1_size",
                "ask1_price",
                "ask1_size",
            ),
            builder=series,
        )
        plan = grafted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        a = {
            (r.ts_ms, r.raw_nonce): (r.rv, r.ofi_l1)
            for r in direct.collect()
        }
        b = {
            (r.ts_ms, r.raw_nonce): (r.rv, r.ofi_l1)
            for r in grafted.select(
                "ts_ms", "raw_nonce", "rv", "ofi_l1"
            ).collect()
        }
        assert a == b


class TestTrainMatrix:
    def test_label_is_future_and_features_are_present_only(self, spark, sf_dir):
        """Point-in-time check: recompute the label from raw data and
        confirm each row's label equals sign(mid[t+10] - mid[t]) — and
        that the last 10 rows per instrument (no full horizon) are
        absent, not zero-filled."""
        from market_microstructure_toolkit_spark.plans.book import (
            synthetic_book,
        )
        from market_microstructure_toolkit_spark.plans.queries import REGISTRY

        out = REGISTRY["book_train_matrix"].spark(spark, sf_dir)
        book = synthetic_book(spark, sf_dir, depth=1)
        per_key = (
            book.groupBy("exchange_id", "symbol").count().collect()
        )
        # a row emits iff BOTH mid endpoints of its horizon exist — the
        # last 10 rows have no horizon, and empty-ask plants (NULL mid)
        # at either end give an UNDEFINED move, dropped not zero-filled
        null_mid = F.col("best_bid").isNull() | F.col("best_ask").isNull()
        all_rows = sorted(
            book.select(
                "exchange_id", "symbol", "ts_ms", "raw_nonce",
                null_mid.alias("nm"),
            ).collect(),
            key=lambda r: (r.exchange_id, r.symbol, r.ts_ms, r.raw_nonce),
        )
        by_key = {}
        for r in all_rows:
            by_key.setdefault((r.exchange_id, r.symbol), []).append(r.nm)
        n_expected = sum(
            sum(
                1
                for i in range(len(nms) - 10)
                if not nms[i] and not nms[i + 10]
            )
            for nms in by_key.values()
        )
        assert out.count() == n_expected
        # spot-check one instrument's labels against a python replay
        rows = sorted(
            book.filter(
                (F.col("exchange_id") == per_key[0]["exchange_id"])
                & (F.col("symbol") == per_key[0]["symbol"])
            )
            .select("ts_ms", "raw_nonce", "best_bid", "best_ask")
            .collect(),
            key=lambda r: (r.ts_ms, r.raw_nonce),
        )
        mids = [
            None
            if r.best_bid is None or r.best_ask is None
            else (r.best_bid + r.best_ask) / 2.0
            for r in rows
        ]
        want = {}
        for i in range(len(rows) - 10):
            if mids[i] is None or mids[i + 10] is None:
                continue
            d = mids[i + 10] - mids[i]
            want[(rows[i].ts_ms, rows[i].raw_nonce)] = (
                1 if d > 0 else (-1 if d < 0 else 0)
            )
        got = {
            (r.ts_ms, r.raw_nonce): r.label_up
            for r in out.filter(
                (F.col("exchange_id") == per_key[0]["exchange_id"])
                & (F.col("symbol") == per_key[0]["symbol"])
            ).collect()
        }
        assert got == want


class TestPurgedKfold:
    def test_roles_partition_and_embargo_nonempty(self, spark, sf_dir):
        from market_microstructure_toolkit_spark.plans.book import (
            synthetic_book,
        )
        from market_microstructure_toolkit_spark.plans.queries import REGISTRY

        rows = REGISTRY["book_purged_kfold"].spark(spark, sf_dir).collect()
        assert rows
        book = synthetic_book(spark, sf_dir, depth=1)
        n_per_key = {
            (r["exchange_id"], r["symbol"]): r["count"]
            for r in book.groupBy("exchange_id", "symbol").count().collect()
        }
        census = {}
        for r in rows:
            census.setdefault(
                (r.exchange_id, r.symbol, r.test_fold), {}
            )[r.role] = r.n_rows
        saw_embargo = False
        for (ex, sym, fold), roles in census.items():
            assert sum(roles.values()) == n_per_key[(ex, sym)]
            assert roles.get("test", 0) > 0
            saw_embargo = saw_embargo or roles.get("embargo", 0) > 0
        assert saw_embargo


class TestTimeWeightedMid:
    def test_durations_tile_the_tape(self, spark, sf_dir):
        """Per instrument, total covered_ms must equal last_ts - first_ts
        (quote intervals tile the tape exactly once)."""
        from market_microstructure_toolkit_spark.plans.book import (
            synthetic_book,
        )
        from market_microstructure_toolkit_spark.plans.queries import REGISTRY

        rows = (
            REGISTRY["book_time_weighted_mid"].spark(spark, sf_dir).collect()
        )
        covered = {}
        for r in rows:
            k = (r.exchange_id, r.symbol)
            covered[k] = covered.get(k, 0) + r.covered_ms
        spans = {
            (r["exchange_id"], r["symbol"]): r["span"]
            for r in synthetic_book(spark, sf_dir, depth=1)
            .groupBy("exchange_id", "symbol")
            .agg((F.max("ts_ms") - F.min("ts_ms")).alias("span"))
            .collect()
        }
        assert covered == spans


class TestDeltaReconstruct:
    def test_roundtrip_ok_and_compression_real(self, spark, sf_dir):
        from market_microstructure_toolkit_spark.plans.queries import REGISTRY

        rows = (
            REGISTRY["book_delta_reconstruct"].spark(spark, sf_dir).collect()
        )
        assert rows
        for r in rows:
            assert r.reconstruction_ok
            # first row of each field is always a delta; beyond that the
            # stream must actually compress (not every slot changes)
            assert r.n_deltas < r.n_fields_total
            assert r.n_deltas >= len(
                ("best_bid", "best_ask", "bid1_size", "ask1_size")
            )


class TestFeatureAuc:
    def test_auc_matches_sklearn_free_python_replay(self, spark, sf_dir):
        """Recompute AUC per instrument with a direct O(n log n) python
        rank implementation (average ranks for ties) and compare."""
        from market_microstructure_toolkit_spark.plans.book import (
            synthetic_book,
        )
        from market_microstructure_toolkit_spark.plans.queries import REGISTRY

        got = {
            (r.exchange_id, r.symbol): r
            for r in REGISTRY["book_feature_auc"].spark(spark, sf_dir).collect()
        }
        book = synthetic_book(spark, sf_dir, depth=1).select(
            "exchange_id", "symbol", "ts_ms", "raw_nonce",
            "best_bid", "best_ask", "bid1_size", "ask1_size",
        ).collect()
        series = {}
        for r in book:
            series.setdefault((r.exchange_id, r.symbol), []).append(r)
        for key, rs in series.items():
            rs.sort(key=lambda r: (r.ts_ms, r.raw_nonce))
            mids = [
                None
                if r.best_bid is None or r.best_ask is None
                else (r.best_bid + r.best_ask) / 2.0
                for r in rs
            ]
            pairs = []
            for i in range(len(rs) - 10):
                # rows with no own or no forward midpoint (empty-ask
                # plants) carry no defined label — excluded, mirroring
                # the gate's mid/fwd non-null filters
                if mids[i] is None or mids[i + 10] is None:
                    continue
                b = rs[i].bid1_size or 0.0
                a = rs[i].ask1_size or 0.0
                if b + a <= 0:
                    continue
                xq = math.floor(b / (b + a) * 1048576.0 + 0.5) / 1048576.0
                pairs.append((xq, 1 if mids[i + 10] > mids[i] else 0))
            pos = sorted(x for x, y in pairs if y == 1)
            neg = sorted(x for x, y in pairs if y == 0)
            import bisect

            num = 0.0
            for x in pos:
                lo = bisect.bisect_left(neg, x)
                hi = bisect.bisect_right(neg, x)
                num += lo + (hi - lo) / 2.0
            want = round(num / (len(pos) * len(neg)), 6)
            assert got[key].auc == pytest.approx(want, abs=2e-6), key
            assert got[key].n_pos == len(pos) and got[key].n_neg == len(neg)


class TestOhlcRollupLadder:
    def test_merge_algebra_holds_everywhere(self, spark, sf_dir):
        from market_microstructure_toolkit_spark.plans.queries import REGISTRY

        rows = (
            REGISTRY["book_ohlc_rollup_ladder"].spark(spark, sf_dir).collect()
        )
        assert rows
        assert all(r.rollup_consistent for r in rows)
        for r in rows:
            if None in (r.low_mid, r.open_mid, r.high_mid):
                # a bar whose open/close tick has a NULL mid (empty-ask
                # plant) legitimately carries NULL o/h/l/c — the merge
                # algebra still holds (rollup_consistent asserted above)
                continue
            assert r.low_mid <= r.open_mid <= r.high_mid
            assert r.low_mid <= r.close_mid <= r.high_mid


class TestAsofTolerance:
    def test_bound_is_half_open_at_exactly_tolerance(self, spark, sf_dir):
        """Nonce jitter lands probes exactly AT the 5s bound (offset
        5000): those must match (staleness <= tol), while 6000 must
        not."""
        from market_microstructure_toolkit_spark.plans.queries import REGISTRY

        rows = REGISTRY["book_asof_tolerance"].spark(spark, sf_dir).collect()
        assert rows
        matched_stale = {r.staleness_ms for r in rows if r.matched}
        assert matched_stale and max(matched_stale) <= 5000
        assert any(not r.matched for r in rows)
        for r in rows:
            if r.matched:
                assert r.staleness_ms is not None
            else:
                assert r.mid is None and r.staleness_ms is None
        # THE round-7 atomic-carry pin: a matched probe whose in-
        # tolerance snapshot is an empty-ask plant (NULL mid) must
        # surface that NULL — a per-column carry would back-fill an
        # older, wrong mid here instead
        assert any(r.matched and r.mid is None for r in rows)


class TestVolumeCurve:
    def test_share_mass_equals_day_count(self, spark, sf_dir):
        """Each day's shares sum to exactly 1, so the total share mass
        Σ_hours avg_share * n_days must equal the instrument's distinct
        day count (a plain Σ avg_share ≈ 1 only holds when every hour
        trades on every day — not true on a sparse tape)."""
        from market_microstructure_toolkit_spark.plans.book import (
            synthetic_trades,
        )
        from market_microstructure_toolkit_spark.plans.queries import REGISTRY

        rows = REGISTRY["trade_volume_curve"].spark(spark, sf_dir).collect()
        assert rows
        mass = {}
        for r in rows:
            assert 0.0 < r.avg_share <= 1.0
            k = (r.exchange_id, r.symbol)
            mass[k] = mass.get(k, 0.0) + r.avg_share * r.n_days
        days = {
            (r["exchange_id"], r["symbol"]): r["n"]
            for r in synthetic_trades(spark, sf_dir)
            .select(
                "exchange_id", "symbol", F.expr("ts_ms DIV 86400000").alias("d")
            )
            .distinct()
            .groupBy("exchange_id", "symbol")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for k, m in mass.items():
            assert m == pytest.approx(days[k], abs=1e-3), k


class TestRollingSegmented:
    """Chunk + (W-1)-halo bounded-frame windows must be value-identical
    to the plain single-window form — including count-gated NULLs,
    NULL-return rows, and windows larger than a chunk's row count."""

    def _df(self, spark, n=500, n_keys=2, null_every=37):
        rows = [
            (
                "e",
                f"S{k}",
                1_000_000 + i * 7,
                i * n_keys + k,
                None if i % null_every == 0 else float((i * 13 + k) % 29) / 8.0,
                float((i * 17 + 3 * k) % 31) / 16.0,
            )
            for k in range(n_keys)
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows,
            "exchange_id string, symbol string, ts_ms long, raw_nonce long,"
            " x double, y double",
        )

    @pytest.mark.parametrize("window,n_chunks", [(20, 8), (5, 64), (1, 4)])
    def test_rv_matches_plain(self, spark, window, n_chunks):
        df = self._df(spark)
        order = ["ts_ms", "raw_nonce"]
        plain = W.add_rolling_rv(
            df, ret_col="x", window=window, out_col="rv", order_col=order
        )
        seg = W.add_rolling_rv_segmented(
            df,
            ret_col="x",
            window=window,
            out_col="rv",
            order_col=order,
            n_chunks=n_chunks,
        )
        key = lambda r: (r.symbol, r.ts_ms, r.raw_nonce)
        a = sorted(plain.collect(), key=key)
        b = sorted(seg.collect(), key=key)
        assert len(a) == len(b) == 1000
        for ra, rb in zip(a, b):
            assert ra.rv == rb.rv, (ra, rb)  # bit-exact, incl. NULL gate

    def test_corr_matches_plain(self, spark):
        df = self._df(spark)
        order = ["ts_ms", "raw_nonce"]
        plain = W.add_rolling_corr(df, "x", "y", 15, out_col="c", order_col=order)
        seg = W.add_rolling_corr_segmented(
            df, "x", "y", 15, out_col="c", order_col=order, n_chunks=16
        )
        key = lambda r: (r.symbol, r.ts_ms, r.raw_nonce)
        for ra, rb in zip(
            sorted(plain.collect(), key=key), sorted(seg.collect(), key=key)
        ):
            if ra.c is None:
                assert rb.c is None
            else:
                assert rb.c == pytest.approx(ra.c, abs=1e-12)

    def test_window_larger_than_series(self, spark):
        df = self._df(spark, n=6, n_keys=1, null_every=10**9)
        seg = W.add_rolling_rv_segmented(
            df, ret_col="x", window=50, out_col="rv",
            order_col=["ts_ms", "raw_nonce"], n_chunks=8,
        )
        rows = seg.collect()
        assert len(rows) == 6
        assert all(r.rv is None for r in rows)  # never 50 obs

    def test_no_per_key_global_window_in_plan(self, spark):
        """The point of the operator: no phase may sort one key's whole
        series through a single task. Every Window in the plan must
        partition by more than the bare keys (i.e. include __seg or
        __chunk) or run on the config-sized per-segment aggregate."""
        df = self._df(spark, n=200)
        seg = W.add_rolling_rv_segmented(
            df, ret_col="x", window=10, out_col="rv",
            order_col=["ts_ms", "raw_nonce"], n_chunks=8,
        )
        plan = seg._jdf.queryExecution().executedPlan().toString()
        import re

        for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\], \[(.*?)\]", plan):
            part = m.group(2)
            # data-sized windows must carry a finer partition key
            if "__seg" not in part and "__chunk" not in part:
                # the only bare-keys window allowed is the per-segment
                # OFFSET window, which runs on the n_segments-row agg —
                # identified by its __cnt/__segoff input
                assert "__cnt" in m.group(1) or "__segoff" in m.group(1), plan


class TestRollingCorr:
    """``add_rolling_corr`` merges per-block prefix/suffix moment states;
    it must reproduce the sliding-frame formula (kept here only as the
    reference) with ANSI mode on: identical NULL pattern, values within
    1e-12 of it, or of the exact value where the reference itself loses
    digits. The data holds NULL pairs, constant x and y runs longer than
    every window, a +-0.0 run, a run without complete pairs and a key
    shorter than the window."""

    KEY_ROWS = (("A", 7), ("B", 130), ("C", 400))

    @pytest.fixture
    def ansi(self, spark):
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        yield spark
        spark.conf.set("spark.sql.ansi.enabled", prev)

    def _rows(self):
        rnd = random.Random(7)
        rows = []
        for sym, n in self.KEY_ROWS:
            for i in range(n):
                x, y = rnd.gauss(0.0, 1.0), rnd.gauss(5.0, 2.0)
                if i % 11 == 0:
                    x = None  # NULL pairs, from either side
                if i % 17 == 0:
                    y = None
                # constant runs longer than any window; 0.1 and 1.1 have
                # no exact binary form, so block means of the same run
                # can differ in the last bit
                if 40 <= i < 110:
                    x = 0.1
                if 200 <= i < 260:
                    y = 1.1
                if 300 <= i < 360:
                    x = 0.0 if i % 2 else -0.0  # +-0.0 is one value
                if 370 <= i < 395:
                    x = None  # a frame with no complete pair at all
                rows.append(("e", sym, 1_000 + 7 * i, i, x, y))
        return rows

    def _df(self, spark):
        return spark.createDataFrame(
            self._rows(),
            "exchange_id string, symbol string, ts_ms long, raw_nonce long,"
            " x double, y double",
        )

    def _exact(self, window):
        """Correlation of every frame in exact rational arithmetic, one
        rounding at the end: the yardstick where the sliding formula's
        own Welford sums lose digits to cancellation."""
        out, rows = {}, self._rows()
        for sym, n in self.KEY_ROWS:
            series = [r for r in rows if r[1] == sym]
            for i in range(n):
                frame = [
                    (Fraction(r[4]), Fraction(r[5]))
                    for r in series[max(0, i - window + 1): i + 1]
                    if r[4] is not None and r[5] is not None
                ]
                if len(frame) < 2:
                    continue
                mx = sum(p[0] for p in frame) / len(frame)
                my = sum(p[1] for p in frame) / len(frame)
                sxx = sum((p[0] - mx) ** 2 for p in frame)
                syy = sum((p[1] - my) ** 2 for p in frame)
                sxy = sum((p[0] - mx) * (p[1] - my) for p in frame)
                if sxx and syy:
                    r2 = float(sxy * sxy / (sxx * syy))
                    out[(sym, i)] = math.copysign(math.sqrt(r2), sxy)
        return out

    @staticmethod
    def _sliding(df, window, order):
        wf = W.book_window(KEYS, order).rowsBetween(-(window - 1), 0)
        pair = F.col("x").isNotNull() & F.col("y").isNotNull()
        x, y = F.when(pair, F.col("x")), F.when(pair, F.col("y"))
        cov = F.covar_samp(x, y).over(wf)
        sx = F.stddev_samp(x).over(wf)
        sy = F.stddev_samp(y).over(wf)
        return df.withColumn("c", F.when((sx > 0) & (sy > 0), cov / (sx * sy)))

    @pytest.mark.parametrize("window", [2, 15, 50, 51])
    def test_matches_sliding_frame(self, ansi, window):
        spark = ansi
        df = self._df(spark)
        order = ["ts_ms", "raw_nonce"]
        key = lambda r: (r.symbol, r.raw_nonce)
        ref = {key(r): r.c for r in self._sliding(df, window, order).collect()}
        got = {
            key(r): r.c
            for r in W.add_rolling_corr(
                df, "x", "y", window, out_col="c", order_col=order
            ).collect()
        }
        assert got.keys() == ref.keys()
        assert len(got) == sum(n for _, n in self.KEY_ROWS)
        nulls = {k for k, v in ref.items() if v is None}
        assert {k for k, v in got.items() if v is None} == nulls
        assert len(nulls) < len(ref)  # the data must exercise both arms
        exact = self._exact(window)
        assert exact.keys() == ref.keys() - nulls
        for k, v in ref.items():
            if v is None:
                continue
            if abs(v - exact[k]) <= 1e-12:
                assert got[k] == pytest.approx(v, abs=1e-12), k
            else:
                # the sliding formula itself is off here (near-equal
                # values cancel in its M2): hold the result to the exact
                # value instead
                assert got[k] == pytest.approx(exact[k], abs=1e-12), k
        # a key shorter than the window still gets its growing frames
        if window > 7:
            assert any(got[("A", i)] is not None for i in range(7))

    def test_no_new_exchange(self, spark):
        """The (keys, block) windows reuse the per-key hash partitioning:
        one shuffle in all."""
        out = W.add_rolling_corr(
            self._df(spark), "x", "y", 50, out_col="c",
            order_col=["ts_ms", "raw_nonce"],
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange ") == 1, plan
