"""Event-log gate queries (sessionization, funnels, CDC/SCD, lake
maintenance on the events table) - split from plans/queries.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from market_microstructure_toolkit_spark.functions.decimal_sum import exact_decimal_sum
from market_microstructure_toolkit_spark.operators import window_metrics as W
from market_microstructure_toolkit_spark.plans.base import (
    _events_fx,
    _scratch,
    parquet_column,
    register_planted as register,
)


def _event_types(spark: SparkSession, sf_dir: str) -> list[str]:
    """Sorted distinct event_type, pulled from the raw parquet column
    in-process (round 13, guide §1.2): `plant_events` passes event_type
    through UNCHANGED, so the raw column IS the planted frame's, and
    the four gates that need its min/max/value-list each paid a full
    scheduled Spark scan per invocation for this handful of strings.
    Recomputed from the parquet input on every call (a cheaper scan,
    not a cache); Spark-aggregate fallback on any read surprise."""
    try:
        import pyarrow.compute as pc

        vals = pc.unique(
            parquet_column(f"{sf_dir}/events.parquet", "event_type")
        )
        out = sorted(v for v in vals.to_pylist() if v is not None)
        if out:
            return out
    except Exception:  # pragma: no cover - exercised only on odd files
        pass
    ev = _events_fx(spark, sf_dir)
    return sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )


_RETENTION_SQL = """
WITH days AS (
  SELECT user_id, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day
  FROM events GROUP BY user_id, CAST(epoch_ms(ts) // 86400000 AS BIGINT)
),
cohorts AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
SELECT c.cohort_day,
       CAST(d.day - c.cohort_day AS BIGINT) AS day_offset,
       COUNT(*) AS n_active_users
FROM days d JOIN cohorts c USING (user_id)
GROUP BY c.cohort_day, d.day - c.cohort_day
"""


@register("events_retention", _RETENTION_SQL)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, counted
    on each later active day offset — the standard activation/retention
    rollup of log analytics. Day-distinct activity first (one shuffle on
    (user, day), map-side combined), cohorts as a min-aggregate reusing
    the user keying, then an equi-join back — all shuffles on user_id, so
    the stages co-partition at scale. Integer outputs: engine-exact."""
    ev = _events_fx(spark, sf_dir)
    day = (F.expr("ts DIV 1000000") / F.lit(86400000)).cast("long")
    days = ev.select("user_id", day.alias("day")).distinct()
    cohorts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohorts, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


_SESSIONIZE_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ms
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
                 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
                                        ORDER BY ts_ms, event_id) AS BIGINT)
              AS session_no
  FROM flagged
)
SELECT user_id, session_no,
       MIN(ts_ms) AS session_start_ms,
       MAX(ts_ms) AS session_end_ms,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_no
"""


@register("events_sessionize", _SESSIONIZE_SQL)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic log sessionization: per-user 30-minute-gap cut via
    lag + running sum of boundaries, then per-session aggregates. One
    shuffle keyed on user_id serves both the window and the groupBy."""
    ev = _events_fx(spark, sf_dir)
    ts_ms = F.expr("ts DIV 1000000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "event_id", ts_ms.alias("ts_ms"),
        F.lag(ts_ms).over(w).alias("prev_ms"),
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_ms").isNull()
            | (F.col("ts_ms") - F.col("prev_ms") > 1800000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    ws = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    return (
        flagged.withColumn("session_no", F.sum("new_session").over(ws))
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_end_ms"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_HOURLY_SQL = """
SELECT event_type,
       epoch_ms(date_trunc('hour', ts)) AS hour_ms,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
FROM events
GROUP BY event_type, epoch_ms(date_trunc('hour', ts))
"""


@register("events_hourly_stats", _HOURLY_SQL)
def q_events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed log rollup: counts, exact distinct users, and
    integer-cents-exact value sums per (event_type, hour). Partial
    aggregation map-side; distinct expands to a two-phase aggregate."""
    ev = _events_fx(spark, sf_dir)
    hour_ms = (F.expr("ts DIV 1000000") / F.lit(3600000)).cast("long") * F.lit(
        3600000
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.groupBy(
        "event_type", hour_ms.alias("hour_ms")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        (F.sum(cents) / F.lit(100.0)).alias("sum_value"),
    )


_JSON_PROPS_SQL = """
SELECT event_id, event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
FROM events
"""


@register("events_json_props", _JSON_PROPS_SQL)
def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the props column (the reference's
    only JSON surface is --params CLI parsing; at scale this is
    get_json_object, a codegen'd expression — no Python)."""
    ev = _events_fx(spark, sf_dir)
    return ev.select(
        "event_id", "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


_FUNNEL_SQL = """
WITH m AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
),
v AS (
  SELECT user_id, MIN(ms) AS t1 FROM m WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT m.user_id, MIN(ms) AS t2
  FROM m JOIN v ON m.user_id = v.user_id
  WHERE m.event_type = 'click' AND m.ms > v.t1
  GROUP BY m.user_id
),
p AS (
  SELECT m.user_id, MIN(ms) AS t3
  FROM m JOIN c ON m.user_id = c.user_id
  WHERE m.event_type = 'purchase' AND m.ms > c.t2
  GROUP BY m.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchase_after_click
"""


@register("events_funnel", _FUNNEL_SQL)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-ordering conversion funnel view -> click -> purchase: a
    user advances a stage only with an event strictly AFTER their
    previous stage's first event. Each stage is one groupBy(user_id)
    min + a join back to the events — all three stages co-partition on
    user_id, so at scale the shuffles align and the stage frontiers
    (one row per converted user) stay small relative to the log."""
    ev = _events_fx(spark, sf_dir)
    m = ev.select("user_id", "event_type", F.expr("ts DIV 1000000").alias("ms"))
    v = (
        m.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t1"))
    )
    c = (
        m.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ms") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t2"))
    )
    p = (
        m.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ms") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


_ALERT_WINDOW_SQL = """
WITH pts AS (SELECT user_id, epoch_ms(ts) AS t FROM events),
alerts AS (
  SELECT event_id, user_id, epoch_ms(ts) AS s
  FROM events WHERE value > 140
)
SELECT a.event_id AS alert_event_id, COUNT(*) AS n_in_window
FROM alerts a JOIN pts p
  ON p.user_id = a.user_id AND p.t >= a.s AND p.t < a.s + 300000
GROUP BY a.event_id
"""


@register("events_alert_window_join", _ALERT_WINDOW_SQL)
def q_events_alert_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big interval join: every high-value event (value > 140, ~6%
    of the stream) opens a 5-minute window; count the user's events
    falling inside each window. Neither side is broadcastable at scale —
    the bucketized interval_join turns the band predicate into an
    equi-join on (user_id, 5-min bin) + residual filter, a plain
    shuffled hash join with uniform keys (the naive BETWEEN-only join
    plans as a nested loop). DuckDB oracle is the direct inequality
    join."""
    from market_microstructure_toolkit_spark.operators.rangejoin import (
        interval_join,
    )

    ev = _events_fx(spark, sf_dir)
    ts_ms = F.expr("ts DIV 1000000")
    pts = ev.select("user_id", ts_ms.alias("t"))
    alerts = ev.filter(F.col("value") > 140).select(
        F.col("event_id").alias("alert_event_id"),
        "user_id",
        ts_ms.alias("s"),
        (ts_ms + F.lit(300000)).alias("e"),
    )
    joined = interval_join(
        pts, alerts, keys=("user_id",), point_ts_col="t",
        start_col="s", end_col="e", bin_ms=300000,
    )
    return joined.groupBy("alert_event_id").agg(
        F.count(F.lit(1)).alias("n_in_window")
    )


_APPROX_DISTINCT_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events,
       TRUE AS approx_ok
FROM events
GROUP BY event_type
"""


@register("events_approx_distinct", _APPROX_DISTINCT_SQL)
def q_events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via HyperLogLog++
    (approx_count_distinct, rsd 2%) checked against the exact count in
    the same aggregate. The sketch aggregates map-side into a fixed
    ~1.5 KB register set per group and merges at the reducer — the
    count-distinct you can actually afford over 100 TB (exact distinct
    shuffles every (type, user) pair). The gate emits the exact count
    plus ``approx_ok`` = relative error <= 10% (5 sigma of the 2% rsd,
    absorbing small-cardinality wobble); the oracle asserts TRUE, so an
    HLL regression breaks the hash."""
    ev = _events_fx(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("__approx"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "exact_users",
            "n_events",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.10)
            ).alias("approx_ok"),
        )
    )


_APPROX_QUANTILES_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(quantile_cont(value, 0.5), 6) AS q50_exact,
       ROUND(quantile_cont(value, 0.9), 6) AS q90_exact,
       ROUND(quantile_cont(value, 0.99), 6) AS q99_exact,
       TRUE AS approx_ok
FROM events
GROUP BY event_type
"""


@register("events_approx_quantiles", _APPROX_QUANTILES_SQL)
def q_events_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of the event value per type via the Greenwald-Khanna
    sketch (percentile_approx, accuracy 10000 -> worst-case rank error
    1e-4), verified IN the gate: each approx quantile is joined back to
    the events to measure its true empirical rank, and ``approx_ok`` =
    the returned value's RANK INTERVAL [count(< v) + 1, count(<= v)]
    intersects [target - (n*1e-4 + 1), target + (n*1e-4 + 1)] — the
    actual GK guarantee (rank error, not value error), stated
    TIE-AWARELY: a duplicated value occupies a rank RUN, and any rank
    in the run satisfying the bound satisfies the sketch's contract
    (the sf1 sweep caught the old single-sided ``count(<=)`` probe
    over-rejecting on 10-deep ties). The exact interpolated percentiles
    ride along as engine-comparable values (round 6dp, matching DuckDB
    quantile_cont). The rank probe is 3 rows per group broadcast
    against the events — one extra pass, no extra shuffle of the
    data."""
    ev = _events_fx(spark, sf_dir).select("event_type", "value")
    qs = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", qs, 10000).alias("__approx_q"),
        F.round(F.element_at(F.percentile("value", qs), 1), 6).alias("q50_exact"),
        F.round(F.element_at(F.percentile("value", qs), 2), 6).alias("q90_exact"),
        F.round(F.element_at(F.percentile("value", qs), 3), 6).alias("q99_exact"),
        F.count(F.lit(1)).alias("n_events"),
        # the sketch ranks over NON-NULL values only (the F7 NULL-value
        # plant makes the two counts differ) — the rank-probe target
        # must use this count, not n_events, or a ~1% NULL share shifts
        # the target past the 1e-4 rank bound
        F.count("value").alias("__n_vals"),
    )
    probes = agg.select(
        "event_type", F.posexplode("__approx_q").alias("__i", "__av")
    )
    ranks = (
        ev.join(F.broadcast(probes), "event_type")
        .groupBy("event_type", "__i", "__av")
        .agg(
            F.sum((F.col("value") < F.col("__av")).cast("long")).alias(
                "__rank_lo"
            ),
            F.sum((F.col("value") <= F.col("__av")).cast("long")).alias(
                "__rank_hi"
            ),
        )
    )
    target = F.element_at(qs, F.col("__i") + 1)
    bound = F.col("__n_vals") * F.lit(1e-4) + F.lit(1.0)
    t_rank = target * F.col("__n_vals")
    return (
        agg.join(ranks, "event_type")
        .withColumn(
            "__ok",
            (F.col("__rank_hi") >= t_rank - bound)
            & (F.col("__rank_lo") + F.lit(1.0) <= t_rank + bound),
        )
        .groupBy(
            "event_type", "n_events", "q50_exact", "q90_exact", "q99_exact"
        )
        .agg(F.min("__ok").alias("approx_ok"))
        .select(
            "event_type",
            "n_events",
            "q50_exact",
            "q90_exact",
            "q99_exact",
            "approx_ok",
        )
    )


_SALTED_JOIN_SQL = """
SELECT e.user_id,
       c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.user_id, c.c_mktsegment
"""


@register("events_salted_join", _SALTED_JOIN_SQL)
def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correctness gate for the explicit-salting skew join
    (partitioning.salted_join): events joined to the customer dimension
    on user_id THROUGH the salted path — big side salted by a
    deterministic row hash, dim side replicated n_salts times, join key
    widened to (key, salt) — then aggregated per (user, segment). The
    oracle is the PLAIN join: hash-equality proves salting is
    semantics-preserving (no dup, no drop), which is the property that
    lets an operator swap it in under a hot key without changing
    results. Salting is for the case AQE's skew split can't fix (one
    key bigger than a task); on this uniform fixture it costs one extra
    narrow stage. Value sums use the repo's DECIMAL money idiom
    (order-free exact, rounded at 2 dp before the double cast) through
    ``functions.exact_decimal_sum``: the oracle's SUM(CAST(value AS
    DECIMAL(18,2))) value and type, accumulated in BIGINT halves
    (precision <= 18, up to ~8.6e9 rows per group)."""
    from market_microstructure_toolkit_spark.partitioning import salted_join

    ev = _events_fx(spark, sf_dir).select("user_id", "value")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, on="user_id", n_salts=8)
    return joined.groupBy("user_id", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_decimal_sum("value", 18, 2)
        .cast("double")
        .alias("total_value"),
    )


_SCD2_SQL = """
WITH ev AS (
  SELECT event_id, epoch_ms(ts) AS ms, user_id, event_type, value FROM events
),
bounds AS (SELECT MIN(ms) AS a, MAX(ms) AS b FROM ev),
dim AS (
  SELECT c_custkey AS user_id, c_mktsegment AS segment,
         a AS valid_from, (a + b) // 2 AS valid_to
  FROM customer, bounds
  UNION ALL
  SELECT c_custkey, c_mktsegment || '_v2', (a + b) // 2, b + 1
  FROM customer, bounds
)
SELECT segment, event_type,
  COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM ev JOIN dim
  ON ev.user_id = dim.user_id
 AND ev.ms >= dim.valid_from AND ev.ms < dim.valid_to
GROUP BY segment, event_type
"""


@register("events_scd2_join", _SCD2_SQL)
def q_events_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 temporal dimension join (operators/rangejoin.scd2_join):
    the customer dimension is versioned in two validity windows split at
    the event-time midpoint (integer-exact in both engines), and every
    event picks the version active at its timestamp — broadcast dim,
    equi-key BroadcastHashJoin with the validity range as an in-stage
    filter, ZERO shuffle of the fact side (plan-pinned in
    test_maintenance). The oracle replays the version pick relationally,
    so the hash pins the half-open [from, to) boundary semantics — an
    event exactly at the split must land in v2, not both."""
    from market_microstructure_toolkit_spark.operators.rangejoin import scd2_join

    ev = _events_fx(spark, sf_dir).select(
        "event_id",
        F.expr("ts DIV 1000000").alias("ms"),
        "user_id",
        "event_type",
        "value",
    )
    bounds = ev.agg(F.min("ms").alias("a"), F.max("ms").alias("b"))
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    # bounds is one row: broadcast-graft it onto the dim (scalar CTE idiom)
    versioned = cust.crossJoin(F.broadcast(bounds))
    mid = ((F.col("a") + F.col("b")) / 2).cast("long")
    v1 = versioned.select(
        "user_id",
        "segment",
        F.col("a").alias("valid_from"),
        mid.alias("valid_to"),
    )
    v2 = versioned.select(
        "user_id",
        F.concat(F.col("segment"), F.lit("_v2")).alias("segment"),
        mid.alias("valid_from"),
        (F.col("b") + 1).alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    joined = scd2_join(ev, dim, key="user_id", ts_col="ms")
    return joined.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(exact_decimal_sum("value", 18, 2), 2)
        .cast("double")
        .alias("total_value"),
    )


_INCR_AGG_SQL = """
WITH ev AS (
  SELECT event_id, epoch_ms(ts) // 86400000 AS day, event_type, value
  FROM events
)
SELECT event_type, day,
  COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) / COUNT(*)
    AS avg_value
FROM ev GROUP BY event_type, day
"""


@register("events_incremental_agg", _INCR_AGG_SQL)
def q_events_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregate merge — the algebraic-aggregation contract that
    makes incremental pipelines correct: the event stream arrives as two
    disjoint batches (split by event_id parity here; by day in
    production), each batch reduces to per-(type, day) PARTIAL states
    (count, decimal sum, min, max), and the nightly merge combines
    states (sum counts/sums, min of mins, max of maxes) WITHOUT touching
    raw history — avg is derived from merged sum/count at the end, never
    averaged across batches. The oracle aggregates the full stream
    directly, so hash-equality proves state-merge == recompute, the
    property that lets a 100 TB pipeline re-aggregate only the new day.
    Decimal accumulation keeps the sums order-free-exact across the
    batch split."""
    ev = _events_fx(spark, sf_dir).select(
        "event_id",
        (F.expr("ts DIV 1000000") / F.lit(86400000)).cast("long").alias("day"),
        "event_type",
        "value",
    )

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("cnt"),
            exact_decimal_sum("value", 18, 2).alias("vsum"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )

    p1 = partial(ev.filter(F.col("event_id") % 2 == 0))
    p2 = partial(ev.filter(F.col("event_id") % 2 == 1))
    merged = (
        p1.unionByName(p2)
        .groupBy("event_type", "day")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("min_value"),
            F.max("vmax").alias("max_value"),
        )
    )
    total = F.round(F.col("vsum"), 2).cast("double")
    return merged.select(
        "event_type",
        "day",
        "n_events",
        total.alias("total_value"),
        "min_value",
        "max_value",
        (total / F.col("n_events")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): 8 subspaces x 16 centroids,
# asymmetric-distance (ADC) scan. The memory-compression half of the ANN
# story the IVF gates left open: each 64-dim float vector compresses to
# 8 one-byte codes, and query scans sum 8 table lookups instead of 64
# multiply-adds.
# ---------------------------------------------------------------------------


def _zval_sql(x: str, y: str, bits: int = 8) -> str:
    """Bit-interleave SQL: z = sum_i ((x>>i & 1) << 2i | (y>>i & 1) << 2i+1)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


_ZORDER_N_FILES = 16


_ZORDER_SQL = f"""
WITH ev AS (
  SELECT event_id,
         user_id % 256 AS xb,
         (epoch_ms(ts) // 60000) % 256 AS yb
  FROM events
),
z AS (
  -- NULL dims (planted NULL user_id) get z-value -1: a deterministic
  -- NULLS-FIRST file slot on both engines (DuckDB would sort NULLs
  -- last, and the Spark side's offsets equi-join would drop them)
  SELECT event_id, xb, yb, COALESCE({_zval_sql('xb', 'yb')}, -1) AS zval FROM ev
),
filed AS (
  SELECT *,
    CAST((ROW_NUMBER() OVER (ORDER BY zval, event_id) - 1)
         // CAST(CEIL((SELECT COUNT(*) FROM z) / {_ZORDER_N_FILES}.0) AS BIGINT) AS BIGINT)
      AS file_id
  FROM z
)
SELECT file_id,
  COUNT(*) AS n_rows,
  MIN(xb) AS min_user_bucket, MAX(xb) AS max_user_bucket,
  MIN(yb) AS min_time_bucket, MAX(yb) AS max_time_bucket
FROM filed GROUP BY file_id
"""


@register("events_zorder_layout", _ZORDER_SQL)
def q_events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout: events sorted by the bit
    interleave of (user bucket, minute bucket) — both folded to 8-bit
    ranks so the dims contribute EQUAL bit weight (unbalanced widths
    degenerate z-order toward a single-dim sort) — and cut into
    {_ZORDER_N_FILES} equal files; the gate emits each file's per-column
    min/max — the footer statistics a lake scan prunes on. Interleaving
    keeps BOTH dimensions' per-file ranges narrow simultaneously (a
    plain sort on one column makes the other's ranges full-width), so
    point/range filters on either column skip most files — Delta
    OPTIMIZE ZORDER BY does exactly this rewrite. The z-value is a pure
    projection (32 bit-terms, whole-stage codegen); the sort is the
    rewrite cost, paid once at layout time like bucketing's shuffle.
    The exact file cut uses NO global window: the 16-bit z-domain means
    per-z-value counts are a bounded (<= 65536-row) metadata pull, the
    driver prefix-sums them into broadcast offsets, and each row's
    global rank is offset(zval) + its rank WITHIN its z-value (a keyed
    window) — the same bounded-metadata planning pass Delta's OPTIMIZE
    runs, exact where repartitionByRange's sampled cuts are not."""
    ev = _events_fx(spark, sf_dir).select(
        "event_id",
        (F.col("user_id") % 256).alias("xb"),
        ((F.expr("ts DIV 1000000") / F.lit(60000)).cast("long") % 256).alias(
            "yb"
        ),
    )
    zval = None
    for i in range(8):
        tx = F.shiftleft(F.shiftright(F.col("xb"), i).bitwiseAND(F.lit(1)), 2 * i)
        ty = F.shiftleft(
            F.shiftright(F.col("yb"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        zval = tx + ty if zval is None else zval + tx + ty
    # NULL dims -> z-value -1 (see oracle comment): keeps the bounded
    # metadata pull sortable, the offsets join lossless, and the NULL
    # rows in one deterministic leading file on both engines
    z = ev.withColumn("zval", F.coalesce(zval.cast("long"), F.lit(-1)))
    # bounded metadata pull: at most 2^16 distinct z-values regardless
    # of data size
    bins = sorted(
        (r["zval"], r["cnt"])
        for r in z.groupBy("zval").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    n = sum(c for _, c in bins)
    per_file = -(-n // _ZORDER_N_FILES)  # ceil
    offsets, acc = [], 0
    for zv, c in bins:
        offsets.append((zv, acc))
        acc += c
    off = F.broadcast(
        spark.createDataFrame(offsets, "zval long, __off long")
    )
    # per-cell rows grow with data; the rank size-dispatches to the
    # segmented-rank phase on the MAX cell occupancy — the exact
    # histogram is already in hand from the offsets collect above, and
    # spatial data concentrates (a mean-occupancy hint would leave a
    # hot cell serialized on one task; round-9 verdict #1 skew audit)
    if W.use_segmented(max((c for _, c in bins), default=0)):
        filed = W.add_position_segmented(
            z.join(off, "zval"),
            keys=("zval",),
            order_col="event_id",
            pos_col="__p",
        ).withColumn(
            "file_id",
            ((F.col("__off") + F.col("__p")) / F.lit(per_file)).cast("long"),
        )
    else:
        wz = Window.partitionBy("zval").orderBy("event_id")
        filed = z.join(off, "zval").withColumn(
            "file_id",
            (
                (F.col("__off") + F.row_number().over(wz) - 1)
                / F.lit(per_file)
            ).cast("long"),
        )
    return filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xb").alias("min_user_bucket"),
        F.max("xb").alias("max_user_bucket"),
        F.min("yb").alias("min_time_bucket"),
        F.max("yb").alias("max_time_bucket"),
    )


_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n,
       n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
FROM trans
"""


@register("events_markov_transitions", _MARKOV_SQL)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral fingerprint funnels and retention don't
    capture (what follows what, not just whether a stage was reached).
    One user-keyed LAG window, one grouped count, and the row
    normalization is a window over the |types|^2-row aggregate — the
    cheap side of the shuffle. Probabilities are integer-ratio exact
    (n / total), so no rounding is needed."""
    ev = _events_fx(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type"), F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wr = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(wr).cast("double")).alias("p"),
    )


_CUBE_SQL = """
WITH ev AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day, value FROM events
)
SELECT event_type, day,
  GROUPING(event_type) * 2 + GROUPING(day) AS grouping_id,
  COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM ev
GROUP BY CUBE (event_type, day)
"""


@register("events_cube_report", _CUBE_SQL)
def q_events_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, day) — all four grouping sets
    (detail, per-type, per-day, grand total) in ONE aggregation pass
    with map-side partials, the complement to revenue_rollup's
    hierarchy. grouping_id disambiguates a NULL key from a rolled-up
    level (the classic CUBE correctness trap); decimal accumulation
    keeps every level's sum order-free exact, so the subtotal rows
    hash-check against their own detail rows' arithmetic."""
    ev = _events_fx(spark, sf_dir).select(
        "event_type",
        (F.expr("ts DIV 1000000") / F.lit(86400000)).cast("long").alias("day"),
        "value",
    )
    return ev.cube("event_type", "day").agg(
        (F.grouping("event_type") * 2 + F.grouping("day")).alias("grouping_id"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(exact_decimal_sum("value", 18, 2), 2)
        .cast("double")
        .alias("total_value"),
    ).select("event_type", "day", "grouping_id", "n_events", "total_value")


_VALQ_SPARK = "floor(value * 1048576e0 + 5e-1) / 1048576e0"


_VALQ_SQL = "floor(value * 1048576.0 + 0.5) / 1048576.0"


_PARTITION_PRUNE_SQL = f"""
SELECT event_type,
       CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
       COUNT(*) AS n_events,
       SUM({_VALQ_SQL}) AS sum_value
FROM events
WHERE event_type = (SELECT MIN(event_type) FROM events)
GROUP BY event_type, CAST(epoch_ms(ts) // 86400000 AS BIGINT)
"""


@register("events_partition_pruned_scan", _PARTITION_PRUNE_SQL)
def q_events_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning end-to-end: the events are rewritten
    partitionBy(event_type) (the ingest-time layout a 100 TB event lake
    uses for its dominant filter column), then a single-type daily
    rollup reads the partitioned copy back. The filter on the partition
    column never touches data files of other types — Spark resolves it
    against directory metadata (PartitionFilters in the scan node,
    plan-pinned by tests/test_properties_and_plans.py), so the scan cost
    is proportional to the SELECTED partition, not the table. The
    oracle runs the same rollup on the raw unpartitioned file —
    hash-equality proves the partitioned layout is lossless. The target
    type is the lexicographic MIN event_type (deterministic, no
    hardcoded fixture string); the value sum uses the exact-binary
    quantization idiom, so no rounding is needed."""
    ev = _events_fx(spark, sf_dir)
    base = _scratch(prefix="mmt_hivepart_")
    ev.write.partitionBy("event_type").parquet(f"{base}/events")
    part = spark.read.parquet(f"{base}/events")
    # lexicographic-min type from the raw column pull — no Spark agg
    # job for a planning constant (round 13; plants keep event_type)
    target = _event_types(spark, sf_dir)[0]
    day = (F.expr("ts DIV 1000000") / F.lit(86400000)).cast("long")
    return (
        part.filter(F.col("event_type") == target)
        .groupBy("event_type", day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr(_VALQ_SPARK)).alias("sum_value"),
        )
    )


_PIVOT_ROUNDTRIP_SQL = """
SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY CAST(epoch_ms(ts) // 86400000 AS BIGINT), event_type
"""


@register("events_pivot_roundtrip", _PIVOT_ROUNDTRIP_SQL)
def q_events_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/unpivot round-trip: the day x event_type count matrix is
    PIVOTed to wide (one column per type — the report/feature-matrix
    shape) and immediately UNPIVOTed back to long; hash-equality with
    the plain grouped oracle proves the two reshapes are mutually
    lossless (absent day x type cells surface as NULL wide cells and
    are dropped on the way back, matching the oracle's no-zero-rows
    semantics). The pivot value list is collected first (driver-side,
    #event-types rows — bounded metadata, and REQUIRED at scale: the
    implicit-pivot variant runs a whole extra distinct job and caps at
    spark.sql.pivotMaxValues anyway)."""
    ev = _events_fx(spark, sf_dir)
    day = (F.expr("ts DIV 1000000") / F.lit(86400000)).cast("long")
    # pivot value list from the raw column pull (round 13): same sorted
    # distinct, minus the per-invocation Spark distinct job
    types = _event_types(spark, sf_dir)
    wide = (
        ev.select(day.alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .count()
    )
    return (
        wide.unpivot("day", types, "event_type", "n_events")
        .filter(F.col("n_events").isNotNull())
        .select("day", "event_type", "n_events")
    )


_SCD2_BUILD_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to_us,
         floor(value * 1048576.0 + 0.5) / 1048576.0 AS attr_value
  FROM events
)
SELECT user_id, event_id AS version_id, valid_from_us, valid_to_us,
       attr_value, valid_to_us IS NULL AS is_current
FROM ordered
"""


@register("users_scd2_build", _SCD2_BUILD_SQL)
def q_users_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an SCD Type-2 dimension FROM a change log (the inverse of
    events_scd2_join, which consumes one): each user's attribute events,
    time-ordered, become validity versions — valid_from = the change's
    timestamp, valid_to = the NEXT change's (half-open, via one keyed
    LEAD window), NULL marking the current version. This is the
    dimension-table materialization every warehouse ingest runs on CDC
    feeds. One user-keyed window, co-partitioned with any later
    as-of/SCD2 join on the same key; attribute values quantized to
    exact binary so the gate needs no rounding."""
    ev = _events_fx(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("ts DIV 1000")
    return ev.select(
        "user_id",
        F.col("event_id").alias("version_id"),
        us.alias("valid_from_us"),
        F.lead(us).over(w).alias("valid_to_us"),
        F.expr(_VALQ_SPARK).alias("attr_value"),
        F.lead(us).over(w).isNull().alias("is_current"),
    )


_GDPR_SQL = """
WITH erase AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
),
remaining AS (
  SELECT e.* FROM events e WHERE e.user_id NOT IN (SELECT user_id FROM erase)
)
SELECT e.event_type,
       COUNT(*) AS n_before,
       CAST(SUM(CASE WHEN e.user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_erased,
       COUNT(*) - CAST(SUM(CASE WHEN e.user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after,
       TRUE AS erasure_complete
FROM events e
GROUP BY e.event_type
"""


@register("events_gdpr_erasure", _GDPR_SQL)
def q_events_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure pass: given a deletion-request list
    (user_id % 97 — in production, the DSAR queue), produce the scrubbed
    event log and an auditable per-type report: rows before, rows
    erased, rows after, plus ``erasure_complete`` — COMPUTED by
    re-scanning the scrubbed output for any surviving requested user
    (the verification a privacy audit actually demands, not an assumed
    TRUE; the oracle asserts it TRUE, so a broken anti-join breaks the
    hash). ``n_after`` is COUNTED from the scrubbed frame per type —
    not derived as n_before − n_erased — while the ORACLE derives it
    arithmetically, so the cross-engine hash pins the identity in both
    failure directions: a leaking anti-join flips erasure_complete, an
    OVER-deleting one (dropping non-requested users) makes the counted
    n_after fall short of the oracle's arithmetic one. Scale shape: the
    deletion list broadcasts (requests are human-scale next to the
    log); the scrub is one broadcast LEFT ANTI join, the verification a
    second map-side semi-probe of the scrubbed stream — the log is
    never shuffled. Logic lives in ``operators/privacy.py`` (extracted
    round 6) so the oracle pins that exact code."""
    from market_microstructure_toolkit_spark.operators.privacy import (
        erasure_report,
    )

    ev = _events_fx(spark, sf_dir)
    requests = ev.filter(F.col("user_id") % 97 == 0).select("user_id")
    return erasure_report(ev, requests)


_ATTR_LOOKBACK_NS = 604_800_000_000_000  # 7 days


_ATTRIBUTION_SQL = f"""
WITH tagged AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
         event_type = (SELECT MAX(event_type) FROM events) AS is_conv
  FROM events
),
windowed AS (
  SELECT *,
    MIN(CASE WHEN NOT is_conv
             THEN printf('%020d|%019d', tns, event_id) END)
      OVER (PARTITION BY user_id ORDER BY tns
            RANGE BETWEEN {_ATTR_LOOKBACK_NS} PRECEDING AND 1 PRECEDING)
      AS ft,
    MAX(CASE WHEN NOT is_conv
             THEN printf('%020d|%019d', tns, event_id) END)
      OVER (PARTITION BY user_id ORDER BY tns
            RANGE BETWEEN {_ATTR_LOOKBACK_NS} PRECEDING AND 1 PRECEDING)
      AS lt
  FROM tagged
)
SELECT event_id AS conversion_event_id, user_id,
       CAST(substr(ft, 22, 19) AS BIGINT) AS first_touch_event_id,
       CAST(substr(lt, 22, 19) AS BIGINT) AS last_touch_event_id
FROM windowed WHERE is_conv
"""


@register("events_conversion_attribution", _ATTRIBUTION_SQL)
def q_events_conversion_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch and last-touch conversion attribution — the two
    canonical marketing-attribution models, in ONE keyed range-frame
    window pass: for every conversion (the lexicographic-max event type,
    picked deterministically — no hardcoded fixture string), the
    earliest and latest NON-conversion touchpoint of the same user
    within a 7-day event-time lookback. The argmin/argmax over the
    range frame uses the engine-portable sortable-string encoding
    printf('%020d|%019d', ts, id) (struct-min in a window is not
    portable); conversions with an empty lookback attribute to NULL.
    Scale shape: one shuffle on user_id, RANGE frame state bounded by
    the lookback horizon — the same plan at any tape length."""
    from market_microstructure_toolkit_spark.operators.attribution import (
        touch_attribution,
    )

    ev = _events_fx(spark, sf_dir)
    # lexicographic-max type from the raw column pull — no Spark agg
    # job for a planning constant (round 13; plants keep event_type)
    conv_type = _event_types(spark, sf_dir)[-1]
    return touch_attribution(ev, conv_type, _ATTR_LOOKBACK_NS)


_CONV_LATENCY_SQL = f"""
WITH tagged AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
         event_type = (SELECT MAX(event_type) FROM events) AS is_conv
  FROM events
),
windowed AS (
  SELECT *,
    MAX(CASE WHEN NOT is_conv
             THEN printf('%020d|%019d', tns, event_id) END)
      OVER (PARTITION BY user_id ORDER BY tns
            RANGE BETWEEN {_ATTR_LOOKBACK_NS} PRECEDING AND 1 PRECEDING)
      AS lt
  FROM tagged
),
attributed AS (
  SELECT w.tns AS conv_ns,
         CAST(substr(w.lt, 22, 19) AS BIGINT) AS last_id
  FROM windowed w WHERE w.is_conv AND w.lt IS NOT NULL
),
latency AS (
  SELECT t.event_type AS last_touch_type,
         (a.conv_ns - t.tns) // 1000000 AS latency_ms
  FROM attributed a JOIN tagged t ON t.event_id = a.last_id
)
SELECT last_touch_type,
       COUNT(*) AS n_conversions,
       ROUND(quantile_cont(CAST(latency_ms AS DOUBLE), 0.5), 6)
         AS median_latency_ms,
       ROUND(quantile_cont(CAST(latency_ms AS DOUBLE), 0.9), 6)
         AS p90_latency_ms
FROM latency GROUP BY last_touch_type
"""


@register("events_conversion_latency", _CONV_LATENCY_SQL)
def q_events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per last-touch channel: for every
    attributed conversion (same lookback machinery as
    events_conversion_attribution), the latency from the last
    touchpoint, summarized as exact interpolated median/p90 per
    touchpoint TYPE — the report that tells a funnel owner which
    channel converts fast. The touch id decodes from the sortable-
    string argmax and joins back for its type/time — one id-keyed
    shuffle on the (small) attributed set, never the full log."""
    from market_microstructure_toolkit_spark.operators.attribution import (
        touch_attribution,
    )

    ev = _events_fx(spark, sf_dir)
    # lexicographic-max type from the raw column pull — no Spark agg
    # job for a planning constant (round 13; plants keep event_type)
    conv_type = _event_types(spark, sf_dir)[-1]
    attributed = (
        touch_attribution(
            ev, conv_type, _ATTR_LOOKBACK_NS, first=False, keep_conv_ts=True
        )
        .filter(F.col("last_touch_event_id").isNotNull())
        .select(
            F.col("conv_ts").alias("conv_ns"),
            F.col("last_touch_event_id").alias("last_id"),
        )
    )
    touches = ev.select(
        F.col("event_id").alias("last_id"),
        F.col("event_type").alias("last_touch_type"),
        F.col("ts").alias("touch_ns"),
    )
    latency = attributed.join(touches, "last_id").select(
        "last_touch_type",
        F.expr("(conv_ns - touch_ns) DIV 1000000").alias("latency_ms"),
    )
    return latency.groupBy("last_touch_type").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(
            F.percentile(F.col("latency_ms").cast("double"), F.lit(0.5)), 6
        ).alias("median_latency_ms"),
        F.round(
            F.percentile(F.col("latency_ms").cast("double"), F.lit(0.9)), 6
        ).alias("p90_latency_ms"),
    )
