"""Property-based parity for the reset-on-gap RV (SURVEY §7.3.3 risk
item) against a faithful pure-Python port of the reference algorithm, and
plan-shape regression tests asserting the optimizations the engine
depends on at scale (pushdown, pruning, broadcast, distributed top-k)."""

from __future__ import annotations

import math
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from market_microstructure_toolkit_spark.operators import window_metrics as W


def reference_rolling_rv(prices, window):
    """Direct port of reference metrics.py:196-232 (deque-and-accumulator
    reset semantics)."""
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
    for r in rets:
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


price_strategy = st.lists(
    st.one_of(
        st.none(),
        st.floats(min_value=0.01, max_value=1000.0, allow_nan=False),
        st.just(0.0),      # nonpositive -> treated as gap
        st.just(-1.0),
    ),
    min_size=2,
    max_size=50,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(prices=price_strategy, window=st.integers(min_value=2, max_value=5))
def test_rv_reset_property(spark, prices, window):
    rows = [
        ("sim", "S0", i, i, p) for i, p in enumerate(prices)
    ]
    df = spark.createDataFrame(
        rows, "exchange_id string, symbol string, ts_ms long, raw_nonce long, mid double"
    )
    got = [
        r["rv"]
        for r in W.add_rolling_rv_reset(df, window=window)
        .orderBy("ts_ms")
        .collect()
    ]
    want = reference_rolling_rv(prices, window)
    assert len(got) == len(want)
    for g, w_ in zip(got, want):
        if w_ is None:
            assert g is None
        else:
            # reference uses an incremental accumulator; engine recomputes
            # the frame sum — equal up to float reassociation
            assert g == pytest.approx(w_, rel=1e-9, abs=1e-12)


# ---------------------------------------------------------------------------
# plan-shape regressions
# ---------------------------------------------------------------------------

def _plan(spark, sf_dir, name) -> str:
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    df = REGISTRY[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lineitem_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection must reach the scan: no unrelated columns read
    assert "l_comment" not in plan and "l_shipmode" not in plan


def test_revenue_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "similarity_topk")
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_sort_merge_not_pair_join(spark, sf_dir):
    # round-6 rewrite: nearest-timestamp resolves via the two-sided
    # union carry (two keyed window sorts), with NO join operator in the
    # plan at all — the pair-join forms (BNLJ / tolerance-banded hash)
    # materialize candidates ∝ target-density x tolerance x snapshots
    # and went 43x on the sf1 sweep
    plan = _plan(spark, sf_dir, "book_asof_join")
    assert "Join" not in plan, plan
    assert "Window" in plan and "Union" in plan


@pytest.fixture
def no_aqe(spark):
    """Executed plans as planned: AQE off for one test."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _exchanges(plan: str) -> list[str]:
    return [ln.strip(" +-:") for ln in plan.splitlines() if "Exchange" in ln]


def test_row_metrics_is_shuffle_free(spark, sf_dir, no_aqe):
    # pure projection of the fixture: the only exchange is the book's
    # keyed partitioning of a single-split input (none on a cluster where
    # the input arrives in many file splits) — no join, no exchange of
    # its own, nothing the METRICS themselves require
    (ex,) = _exchanges(_plan(spark, sf_dir, "book_row_metrics"))
    assert ex.startswith("Exchange hashpartitioning(symbol#"), ex
    assert "REPARTITION_BY_COL" in ex, ex


@pytest.mark.parametrize("name", ["book_rolling_corr", "book_level_stats"])
def test_book_gates_reuse_the_keyed_book_exchange(spark, sf_dir, no_aqe, name):
    # the per-symbol windows and the (symbol, side, level) aggregate all
    # run on the book's own symbol partitioning: one exchange in the plan
    plan = _plan(spark, sf_dir, name)
    (ex,) = _exchanges(plan)
    assert ex.startswith("Exchange hashpartitioning(symbol#"), ex
    assert ex.split(")", 1)[0].count(",") == 1, ex  # (symbol, n) only
    # it moves raw event columns: the book is derived above it, on one
    # task per symbol, not below it on the single input split
    below = plan[plan.index("Exchange"):]
    assert "FileScan parquet" in below
    for col in ("best_bid", "bid1_price", "bid1_size", "ask1_size"):
        assert f" AS {col}#" not in below, col


def test_rolling_corr_builds_from_few_py4j_calls(spark, sf_dir):
    """The plain W10 path is SQL text: a warm construction makes a few
    hundred py4j round trips, not one per Column node. Object releases
    (``m\\nd\\n`` commands) follow Python's GC and are not counted."""
    import gc

    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    build = REGISTRY["book_rolling_corr"].spark
    build(spark, sf_dir)  # warm: the book and the size hint are memoized
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *a, **k):
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return send(command, *a, **k)

    gc.collect()
    client.send_command = counting
    try:
        build(spark, sf_dir)
    finally:
        del client.send_command
    assert len(calls) <= 300, len(calls)


def test_window_metrics_single_exchange(spark, sf_dir):
    # all series metrics share one instrument-keyed shuffle
    plan = _plan(spark, sf_dir, "book_ofi_strict")
    assert plan.count("Exchange hashpartitioning") == 1


def test_book_level_stats_sums_bigint_halves(spark, sf_dir):
    # exact_decimal_sum: no DECIMAL(28,6) SUM buffer, two BIGINT SUMs
    # per averaged column instead
    plan = _plan(spark, sf_dir, "book_level_stats")
    assert not re.search(r"sum\(cast\([^()]*as decimal\(18,6\)\)\)", plan), plan
    assert plan.count("partial_sum(shiftright(") == 2, plan


def test_lsh_banded_join_is_bucket_keyed_not_cartesian(spark, sf_dir):
    # the candidate join must shuffle on (band, bucket) keys — never a
    # cartesian/broadcast-nested-loop over all vector pairs
    plan = _plan(spark, sf_dir, "similarity_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "bucket" in plan


def test_plan_audit_detects_global_window(spark):
    # the audit tool's GLOBAL_WINDOW detector must fire on a real
    # unpartitioned row_number plan and stay silent on partitioned
    # windows (advisor round-3 finding: keep this pinned against the
    # actual WindowExec simpleString rendering, which omits the empty
    # partitionSpec on this Spark version)
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from plan_audit import audit
    from pyspark.sql import Window

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    glob = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    part = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    part_only = df.withColumn("c", F.count("*").over(Window.partitionBy("g")))
    assert "GLOBAL_WINDOW" in audit("t", glob)
    assert "GLOBAL_WINDOW" not in audit("t", part)
    assert "GLOBAL_WINDOW" not in audit("t", part_only)


def test_embedding_nn_uses_banded_bucket_keyed_join(spark, sf_dir):
    # dedup_embedding_nn must ride the guarded banded generator: pair
    # work shuffles on (band, bucket) keys, never a cartesian/broadcast
    # nested loop over all vector pairs (round-3 verdict item #1)
    plan = _plan(spark, sf_dir, "dedup_embedding_nn")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "bucket" in plan


def test_banded_keyspace_exceeds_single_band(spark, sf_dir):
    # 4 bands x 8 bits give a 1024-key shuffle domain; even the smallest
    # fixture occupies far more than the 256 keys a single band offers —
    # the parallelism the single-band path capped
    from market_microstructure_toolkit_spark.operators.similarity import (
        as_double,
        sign_bucket,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = as_double("embedding")
    occupied = (
        emb.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            sign_bucket(v, 8, j * 8).alias("bucket"),
                        )
                        for j in range(4)
                    ]
                )
            ).alias("bb")
        )
        .select("bb.*")
        .distinct()
        .count()
    )
    assert occupied > 256


def test_doc_length_quantiles_matches_sorted_ranks(spark, sf_dir):
    """The histogram-fold order statistics equal the direct definition
    rank = ceil(q*n) over the sorted lengths."""
    import math

    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    from market_microstructure_toolkit_spark.plans.base import plant_docs

    row = REGISTRY["doc_length_quantiles"].spark(spark, sf_dir).collect()[0]
    # the gate reads the F7-planted fixture and defines quantiles over
    # docs WITH text — mirror both here
    lens = sorted(
        r["len"]
        for r in plant_docs(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        .filter("text IS NOT NULL")
        .selectExpr("length(text) AS len")
        .collect()
    )
    n = len(lens)
    for q, col in ((0.50, "p50"), (0.90, "p90"), (0.99, "p99")):
        assert row[col] == lens[math.ceil(q * n) - 1]
    assert row["p100"] == lens[-1]


def test_doc_length_quantiles_plan_has_no_global_window(spark, sf_dir):
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    plan = REGISTRY["doc_length_quantiles"].spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_recorder_grid_sample_windows_are_partitioned(spark, sf_dir):
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    plan = REGISTRY["recorder_grid_sample"].spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # every WindowExec in the plan must declare partition keys
    for ln in plan.splitlines():
        if "Window [" in ln:
            assert "partitionBy" not in ln or "symbol" in ln
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "symbol" in m.group(1)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    toks=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=30),
    budget=st.integers(min_value=3, max_value=17),
)
def test_pack_sequences_conservation_properties(spark, toks, budget):
    """Packing invariants for arbitrary doc lengths and budgets:
    (1) token conservation — each doc's tok_in_seq pieces sum to its
    token count; (2) every sequence except the shard's last holds
    exactly `budget` tokens; (3) sequence ids per shard are the dense
    range 0..last."""
    from market_microstructure_toolkit_spark.operators.packing import (
        pack_assignments,
    )

    rows = [(i, " ".join(["w"] * t)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_assignments(df, budget=budget, n_shards=1).collect()

    per_doc = {}
    per_seq = {}
    for r in out:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["tok_in_seq"]
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["tok_in_seq"]
    assert per_doc == {i: t for i, t in enumerate(toks)}
    last = max(per_seq)
    assert sorted(per_seq) == list(range(last + 1))
    for s, n in per_seq.items():
        assert n == budget if s < last else 0 < n <= budget


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=25),
    ivls=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),
            st.integers(min_value=0, max_value=120),
        ),
        min_size=1,
        max_size=12,
    ),
    bin_ms=st.sampled_from([7, 50, 100, 333]),
)
def test_interval_join_matches_brute_force(spark, pts, ivls, bin_ms):
    """Bucketized interval join == brute-force filter for arbitrary
    points, spans, and bin widths (bins misaligned with spans included)."""
    from market_microstructure_toolkit_spark.operators.rangejoin import (
        interval_join,
    )

    pdf = spark.createDataFrame(
        [("k", t, i) for i, t in enumerate(pts)], "k string, t long, pid long"
    )
    idf = spark.createDataFrame(
        [("k", s, s + w, j) for j, (s, w) in enumerate(ivls)],
        "k string, s long, e long, iid long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in interval_join(
            pdf, idf, keys=("k",), point_ts_col="t",
            start_col="s", end_col="e", bin_ms=bin_ms,
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, t in enumerate(pts)
        for j, (s, w) in enumerate(ivls)
        if s <= t < s + w
    )
    assert got == want


def test_partition_pruned_scan_prunes_partitions(spark, sf_dir):
    """The hive-partitioned rollup's scan must carry the event_type
    filter as a PARTITION filter (directory-level pruning), not a data
    filter — the whole point of the partitioned layout."""
    plan = _plan(spark, sf_dir, "events_partition_pruned_scan")
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_schema_evolution_surfaces_missing_column_as_null(spark, sf_dir):
    """v1-generation rows (written without quality_score) must read back
    with NULL there, and every v2 row must carry a value."""
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    out = REGISTRY["documents_schema_evolution"].spark(spark, sf_dir)
    agg = out.agg(
        F.sum("n_docs").alias("n"), F.sum("n_with_quality").alias("nq")
    ).collect()[0]
    assert 0 < agg["nq"] < agg["n"]


def test_table_diff_statuses_match_planted_deltas(spark, sf_dir):
    """The Merkle diff must recover exactly the planted delta sets:
    deletes (doc_id % 97), inserts (% 101, shifted ids), and text
    changes (% 89 among surviving docs)."""
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    rows = REGISTRY["documents_table_diff"].spark(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r.status, set()).add(r.doc_id)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    max_id = max(ids)
    expect_v1 = {i for i in ids if i % 97 == 0}
    expect_v2 = {i + max_id + 1 for i in ids if i % 101 == 0}
    expect_chg = {i for i in ids if i % 89 == 0 and i % 97 != 0}
    assert got.get("only_v1", set()) == expect_v1
    assert got.get("only_v2", set()) == expect_v2
    assert got.get("changed", set()) == expect_chg


def test_table_diff_detail_join_is_bucket_gated(spark, sf_dir):
    """Phase 3 must semi-join both sides against the differing-bucket
    list (broadcast) before the full outer join — the pruning that makes
    an unchanged 100 TB table cost no detail reads."""
    plan = _plan(spark, sf_dir, "documents_table_diff")
    assert plan.count("LeftSemi") >= 2
    assert "FullOuter" in plan or "full_outer" in plan


def test_late_shipping_exists_plans_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orders_late_shipping_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q12_date_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lineitem_priority_by_returnflag")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters", 1
    )[1].split("]", 1)[0]


def test_promo_share_broadcasts_part_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lineitem_promo_revenue_share")
    assert "BroadcastHashJoin" in plan


def test_disjunctive_filter_still_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lineitem_disjunctive_filter_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bench_emits_plan_audit_artifact(tmp_path):
    """bench.py must emit the PLAN_AUDIT artifact (round-5 verdict #8:
    the audit is part of the gate loop, not an optional tool): run the
    bench on a 3-query subset in a subprocess and assert the artifact
    shape — audited count, zero flags, streaming skipped."""
    import json
    import os
    import subprocess
    import sys

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_ONLY=(
            "book_row_metrics,lineitem_pricing_summary,"
            "streaming_dedup_watermark_replay"
        ),
        SPARK_GRAFT_BENCH_DETAIL=str(tmp_path / "detail.json"),
        SPARK_GRAFT_PLAN_AUDIT=str(tmp_path / "audit.json"),
    )
    r = subprocess.run(
        [sys.executable, "/root/repo/bench.py"],
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    audit = json.loads((tmp_path / "audit.json").read_text())
    assert audit["audited"] == 2  # streaming replay skipped
    assert audit["n_flagged"] == 0 and audit["flagged"] == {}
    assert audit["skipped_streaming"] == ["streaming_dedup_watermark_replay"]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["n_plan_flags"] == 0
    assert out["total_query_s"] <= out["value"]
    detail = json.loads((tmp_path / "detail.json").read_text())
    assert detail["plan_audit_flagged"] == 0


def test_book_depth_evolution_null_propagates_old_segment(spark, sf_dir):
    """The depth3-recorded half must never show more than 3 levels and
    its depth-qty sums must exclude levels 4-5; the depth5 half must
    reach past 3 on at least some rows (pad-nulls aside)."""
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    rows = REGISTRY["book_depth_evolution"].spark(spark, sf_dir).collect()
    a = [r for r in rows if r.recorder == "depth3"]
    b = [r for r in rows if r.recorder == "depth5"]
    assert a and b
    assert all(r.n_bid_levels <= 3 and r.n_ask_levels <= 3 for r in a)
    assert any(r.n_bid_levels > 3 for r in b)
    assert max(r.bid_depth_qty for r in b) > max(r.bid_depth_qty for r in a)
