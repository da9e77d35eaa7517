"""Type-adaptive reader for the driver's ``events`` table.

``events.parquet`` stores its ``ts`` column as parquet TIMESTAMP(NANOS).
How Spark surfaces that type depends on version and conf:

- with ``spark.sql.legacy.parquet.nanosAsLong=true`` (Spark <= 4.0 path)
  it arrives as BIGINT epoch-nanos;
- newer readers surface it natively as TIMESTAMP_NTZ (micro precision);
- some deployments coerce to TIMESTAMP.

Every downstream plan in this repo treats ``ts`` as epoch-nanos BIGINT
(``ts DIV 1000000`` -> epoch millis, matching DuckDB's ``epoch_ms`` which
floors). Rather than pinning a legacy conf that newer Spark ignores, this
reader inspects the ARRIVED type and normalizes to epoch-nanos BIGINT:

- BIGINT: pass through (full nanos preserved);
- TIMESTAMP / TIMESTAMP_NTZ: ``unix_micros(cast(ts as timestamp)) * 1000``
  under a UTC-pinned session zone. Spark's timestamp types carry micros,
  so when the stored unit is finer (the round-1..3 fixtures were
  TIMESTAMP(NANOS) with real sub-microsecond digits; round 4 regenerated
  as TIMESTAMP(MICROS)) this path truncates — a BIGINT arrival of the
  same nanos would keep them, so the two arrival types can differ in the
  last three digits. That is safe for this repo because truncating n to
  n - (n % 1000) cannot cross a microsecond (or any coarser) boundary,
  and every consumer floors ``ts`` to milliseconds (``ts DIV 1000000``)
  — so both arrival paths, and DuckDB reading the raw parquet values,
  floor identically. Pinned by tests/test_io_schema.py (physical vs
  read_events µs agreement, unit-adaptive); grep for sub-ms consumers
  before adding one — a query comparing raw ``ts`` below microsecond
  granularity WOULD diverge across arrival types.

At 100 TB this normalization is a map-only projection fused into the scan
by whole-stage codegen — no extra pass, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

__all__ = ["read_events", "normalize_ts_nanos"]


def normalize_ts_nanos(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce a timestamp-or-long column to epoch-nanosecond BIGINT."""
    t = df.schema[col].dataType
    if isinstance(t, LongType):
        return df
    # TIMESTAMP is a no-op cast; TIMESTAMP_NTZ wall-clock is interpreted in
    # the session zone, which ensure_session_confs pins to UTC — the same
    # naive-UTC convention DuckDB applies to the raw parquet values.
    return df.withColumn(
        col, (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)).cast("long")
    )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with ``ts`` guaranteed epoch-nanos BIGINT.

    Self-sufficient on any caller-supplied SparkSession (correctness
    harnesses inject their own, with none of the repo's confs applied).
    """
    from market_microstructure_toolkit_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    return normalize_ts_nanos(spark.read.parquet(f"{sf_dir}/events.parquet"))
