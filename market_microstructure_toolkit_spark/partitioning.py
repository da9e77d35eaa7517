"""Partition-shaping helpers.

``spread`` guards expression-heavy stages (hashing, shingling, per-row
media decode) against under-partitioned inputs. On a real cluster a big
table arrives in thousands of file splits and this is a no-op; locally a
small single-file parquet otherwise serializes the whole stage onto one
core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, *by: str, target: int | None = None) -> DataFrame:
    """Ensure at least ``target`` (default: defaultParallelism) partitions.

    With ``by`` columns, repartitions by hash of those keys so a following
    ``groupBy(*by)`` reuses the exchange instead of shuffling again. A
    DataFrame that already has enough partitions is returned untouched —
    this never *coalesces*, so at cluster scale (input already split) it
    costs nothing.
    """
    sess = df.sparkSession
    want = target or sess.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    if by:
        return df.repartition(want, *by)
    return df.repartition(want)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: explicit salting for the case AQE's
    skew-join split can't fix (a single hot key exceeding one task even
    after splitting, e.g. a dominant symbol or a null-heavy key).

    The big/skewed side gets a deterministic per-row salt (hash of the
    whole row, so re-runs are stable); the small side is replicated
    ``n_salts`` times; the join key becomes ``(on..., salt)``, spreading
    one hot key across ``n_salts`` tasks. Output equals the plain join.
    """
    from pyspark.sql import functions as F

    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    lhs = left.withColumn("__salt", salt)
    rhs = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = lhs.join(rhs, keys + ["__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) parquet table.

    Bucketing is THE pre-shuffle for the 100 TB fact-to-fact join: both
    tables hash-clustered into ``n_buckets`` files per partition on the
    join key at WRITE time, so every later join/groupBy on that key reads
    co-located buckets and plans a SortMergeJoin with NO Exchange on
    either side (and, when ``sort``, no Sort either) — the shuffle is
    paid once at ingest instead of per query. Registered through the
    session catalog (``saveAsTable`` — bucket metadata lives in the
    catalog, plain ``.parquet()`` writes can't carry it) but with an
    explicit external ``path`` so the data sits in caller-owned storage.
    Existing table of the same name is replaced — callers sharing a
    metastore across sessions must namespace ``table`` themselves (the
    gate queries suffix a uuid4 for exactly this reason); each
    dot-separated segment of the (possibly schema-qualified) name is
    validated as a bare identifier so it can't smuggle SQL into the
    DROP.
    """
    import re

    parts = table.split(".")
    if not all(re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", p) for p in parts):
        raise ValueError(
            f"write_bucketed: table name {table!r} must be one or more "
            "dot-separated bare identifiers ([A-Za-z_][A-Za-z0-9_]*)"
        )
    quoted = ".".join(f"`{p}`" for p in parts)
    keys = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    sess = df.sparkSession
    sess.sql(f"DROP TABLE IF EXISTS {quoted}")
    w = df.write.mode("overwrite").format("parquet").option("path", path)
    w = w.bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def compact_files(
    spark,
    src: str,
    dst: str,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite ``src`` into ``dst`` with file
    count sized from the ACTUAL input bytes (ceil(total/target)), not a
    guessed constant. Streaming ingest and fine-grained hive partitions
    leave thousands of KB-scale files whose per-file open/footer cost
    dominates the scan at 100 TB; compaction is the table-maintenance
    pass every serious lake runs (Delta OPTIMIZE / Hudi clustering do
    exactly this rewrite). Input size comes from the driver's file
    listing (metadata only — no data read); the rewrite itself is one
    round-robin repartition, no key shuffle. Returns the output file
    count it chose.
    """
    import math

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.format(fmt).load(src)
    df.repartition(n_out).write.mode("overwrite").format(fmt).save(dst)
    return n_out
