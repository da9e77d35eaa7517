"""Deduplication operators for large-scale document pipelines.

Beyond the reference's surface (BASELINE.json north star): the operators a
100 TB training-data pipeline needs, built DataFrame-native so Catalyst
distributes them:

- exact dedup: content-hash groupBy (one shuffle, uniform keys);
- MinHash + LSH near-dup: shingle -> k signatures -> banded bucket keys ->
  bucket-join candidates -> exact-Jaccard verify. The LSH band join is the
  scale path: candidate generation is |bucket|^2 per bucket instead of
  n^2 global;
- n-gram Jaccard: exact set similarity on candidate pairs via an inverted
  shingle index (explode + self-join on shingle);
- SimHash: per-bit majority vote over token hashes -> Hamming-bucketable
  fingerprint.

Portability note: every hash is ``md5`` (available in Spark, DuckDB, and
virtually everywhere) and "min over hashes" is the LEXICOGRAPHIC min of
hex strings — a valid uniform min-hash that needs no 64-bit integer
conversions, keeping the SQL oracles engine-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (single-space convention of the corpus)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.split(t, " ", -1)


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams joined by single spaces.

    Built with ``transform`` over token positions — O(tokens) expressions,
    no UDF. Documents shorter than n words yield an empty set.

    The token array is BOUND to a lambda variable via a single-element
    ``transform`` before any per-position access: referencing the raw
    ``split(...)`` expression inside the positional lambda would re-split
    the whole document for every ``element_at`` — O(tokens^2) per doc
    (measured 6.5 s for a 5000-doc explode; ~1 s bound).
    """

    def shingles_of(toks: Column) -> Column:
        cnt = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(-1)))
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)],
            ),
        )
        return F.array_distinct(F.when(cnt >= n, grams).otherwise(F.array()))

    return F.element_at(F.transform(F.array(tokens(text)), shingles_of), 1)


def grouped_pairs(df: DataFrame, group_cols: list[str], id_struct: Column) -> DataFrame:
    """Postings-list pair generation for inverted-index similarity joins.

    Groups rows by ``group_cols`` (a shingle / fingerprint / LSH-bucket
    key), collects each group's members into an array, and emits ordered
    member pairs (``a.id < b.id``) by a double-explode. Compared to the
    classic self-join on the group key this (1) evaluates the (often
    expensive: shingling, md5, minhash) input lineage ONCE instead of once
    per join side — Spark gives self-join branches no common-subexpression
    reuse — and (2) generates pairs map-side after one shuffle.

    CALLERS MUST BOUND GROUP SIZE FIRST (doc-frequency or bucket-size
    guard): ``collect_list`` materializes a group per key, and pair
    fan-out is C(|group|, 2). With a guard of K, both are O(K) / O(K^2)
    constants; without one, a hot key OOMs the aggregate at scale.
    """
    postings = df.groupBy(*group_cols).agg(F.collect_list(id_struct).alias("ids"))
    return (
        postings.select(F.explode("ids").alias("a"), F.col("ids"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via md5 content hash; keeps min id as canonical."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("canonical_doc_id"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document k-minhash signature table (id, mh0..mh{k-1}).

    Hash family i = md5(shingle || '#i'); the signature element is the
    lexicographic MIN hex digest — equivalent to a uniform min-hash
    (duplicate shingles can't change a min, so no distinct needed).

    Shape chosen for scale: explode shingles to rows, then ONE hash
    aggregate with k ``min`` columns. That stays in whole-stage codegen
    with map-side partial aggregation — unlike a higher-order ``aggregate``
    over the shingle array, which is interpreted per element and, worse,
    re-evaluates the entire struct accumulator once per extracted field.
    Documents with fewer than ``shingle_n`` words have no shingles and
    drop out (they cannot be near-dup candidates).
    """
    grams = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("g")
    )
    return grams.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.col("g"), F.lit(f"#{i}")))).alias(f"mh{i}")
            for i in range(k)
        ]
    )


def lsh_band_keys(k: int = 8, rows_per_band: int = 2) -> list[Column]:
    """Banded LSH keys over a k-signature: docs agreeing on ANY band are
    candidates. bands = k / rows_per_band."""
    keys = []
    for b in range(0, k, rows_per_band):
        cols = [F.col(f"mh{i}") for i in range(b, b + rows_per_band)]
        keys.append(F.concat_ws("|", *cols).alias(f"band{b // rows_per_band}"))
    return keys


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing at least one LSH band.

    Scale shape: explode to (band_key, doc) then self-join per band —
    shuffle keyed on band values, quadratic only within buckets.
    ``max_bucket_size`` is the hot-bucket guard: a band bucket holding d
    docs fans d^2/2 pairs, and a templated/boilerplate corpus slice can
    put millions of docs in one bucket; buckets past the cap are dropped
    (their members are better handled by exact dedup, which such
    near-identical docs hit anyway). Singleton buckets are pruned in the
    same pass — both filters ride the one count-over-bucket window on
    the shuffle the join needs regardless.
    """
    bands = k // rows_per_band
    sigs = minhash_signatures(df, text_col, id_col, k, shingle_n)
    keyed = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[F.col(f"mh{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    wb = Window.partitionBy("band", "key")
    keyed = (
        keyed.withColumn("__bn", F.count(F.lit(1)).over(wb))
        .filter(
            (F.col("__bn") >= 2)
            & (
                F.col("__bn") <= max_bucket_size
                if max_bucket_size is not None
                else F.lit(True)
            )
        )
        .drop("__bn")
    )
    pairs = (
        grouped_pairs(keyed, ["band", "key"], F.struct(F.col(id_col).alias("id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs


#: corpus-relative doc-frequency guard: "boilerplate" means appearing in
#: more than 1/AUTO_DF_DIVISOR of the corpus (0.02%), floored at 10 docs
#: so tiny corpora keep a cap of 10. A FIXED cap saturates on a
#: replicated corpus: at sf10 (500k docs, each sf0.1 text present as
#: ~100 near-identical replicas) every true-dup fingerprint has df ~100
#: > 10, so a fixed guard drops ALL dup signal — dedup_winnow's output
#: would collapse from 547 pairs (sf1) to 15 (sf10). Same bug family as
#: a fixed LSH bucket space. The cap resolves to 10 at every SF <= sf1
#: (<= 50k docs), so small-SF results are unchanged by construction.
AUTO_DF_DIVISOR = 5000


def auto_doc_freq_cap(n_docs: int, floor: int = 10) -> int:
    """max(floor, n_docs // AUTO_DF_DIVISOR) — integer arithmetic only,
    mirrored verbatim by the DuckDB oracles' GREATEST(10, COUNT(*)//5000)."""
    return max(floor, n_docs // AUTO_DF_DIVISOR)


def _resolve_df_cap(df: DataFrame, max_doc_freq) -> int | None:
    if max_doc_freq == "auto":
        return auto_doc_freq_cap(df.count())
    return max_doc_freq


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | str | None = 10,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.

    Inverted-index join: explode distinct shingles, self-join on shingle,
    count shared shingles per pair, then |A∩B| / (|A|+|B|-|A∩B|).
    Integer counts + one division -> engine-exact.

    ``max_doc_freq`` is the hot-key guard (same design as
    ``winnow_candidates``): shingles appearing in more than that many
    documents are dropped BEFORE sizes and intersection — a boilerplate
    shingle in d docs would otherwise fan out d^2/2 join rows while
    carrying no dedup signal. Both |A|, |B| and |A∩B| are computed over
    the surviving (discriminative) shingle sets, so the ratio remains a
    true Jaccard — of the filtered sets. ``None`` disables the guard for
    small corpora needing the unfiltered value.

    Plan shape (one LINEAR lineage — no self-join, no branch recompute):
    explode once; doc-frequency + guard via a count window on the shingle;
    per-doc filtered sizes via a count window on the doc; then group each
    surviving shingle's ≤``max_doc_freq`` postings into an array and emit
    its pairs by a bounded double-explode. A previous version branched the
    exploded shingles into a doc-freq aggregate, a sizes aggregate, and a
    self-join — Spark re-evaluated the explode subtree for every branch
    (measured 10x slower at sf0.1). Four shuffles total, all on the
    guard-bounded postings; the pair fan-out per shingle is at most
    C(max_doc_freq, 2), so no key can blow up the join stage. With the
    guard disabled the postings window is unbounded (linear in the hottest
    shingle's doc count — acceptable only on small corpora; MinHash-LSH is
    the 100 TB path).
    """
    max_doc_freq = _resolve_df_cap(df, max_doc_freq)
    grams = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("g")
    )
    if max_doc_freq is not None:
        # shingles are per-doc distinct, so count per shingle = doc freq
        grams = grams.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("g"))
        ).filter(F.col("__df") <= max_doc_freq)
    sized = grams.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    pairs = grouped_pairs(
        sized, ["g"], F.struct(F.col(id_col).alias("id"), "n")
    )
    out = (
        pairs.groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def simhash16(text_col: str = "text") -> Column:
    """16-bit SimHash over whitespace tokens.

    Bit b comes from hex digit b of each token's md5: the bit is the
    parity-class of the digit (>= '8' in hex order => 1). Per-bit majority
    vote over tokens -> fingerprint integer in [0, 65535]. Near-dups have
    small Hamming distance; bucket by fingerprint for candidate pairs.
    """
    toks = tokens(text_col)

    # md5 ONCE per token, bound via transform: higher-order-function
    # lambdas are interpreted (CodegenFallback) with NO
    # common-subexpression elimination, so an `h = F.md5(t)` referenced
    # in each of the 16 bit terms would recompute the hash 16x per
    # token. The hex array is materialized once; the fold touches only
    # cheap substring compares.
    hashes = F.transform(toks, lambda t: F.md5(t))

    # All 16 bit counters accumulate in ONE aggregate lambda (see
    # minhash_signature's note on Spark's lambda-variable collision when
    # many higher-order functions share a projection).
    def step(acc: Column, h: Column) -> Column:
        return F.struct(
            *[
                (
                    acc[f"v{b}"]
                    + F.when(F.substring(h, b + 1, 1) >= F.lit("8"), F.lit(1)).otherwise(
                        F.lit(-1)
                    )
                ).alias(f"v{b}")
                for b in range(16)
            ]
        )

    init = F.struct(*[F.lit(0).alias(f"v{b}") for b in range(16)])
    votes = F.aggregate(hashes, init, step)

    # Bind the votes struct to a lambda variable before the 16 per-bit
    # reads (the same single-element-transform trick as
    # word_shingles): subexpression elimination skips trees containing
    # lambda variables, so referencing the aggregate 16 times in the
    # final projection would re-run the WHOLE fold per bit — 16 full
    # passes over every token's hash. Measured on the sf0.1 corpus:
    # 31.4 s -> 0.95 s warm for the full expression with both bindings
    # (33x).
    def fp_of(v: Column) -> Column:
        out = F.lit(0)
        for b in range(16):
            out = out + F.when(v[f"v{b}"] > 0, F.lit(1 << b)).otherwise(
                F.lit(0)
            )
        return out

    fp = F.element_at(F.transform(F.array(votes), fp_of), 1)
    # NULL text -> NULL fingerprint, not 0: zero is a VALID fingerprint
    # class, and bucketing every NULL-text doc into it would mint fake
    # near-dup candidates (caught by the F7 NULL-text plant).
    return F.when(toks.isNotNull(), fp)


def _kgram_hashes(t: Column, k: int) -> Column:
    """Array of 12-hex-char md5 prefixes of every character k-gram.

    48-bit prefixes keep the min-comparisons and the exploded index small;
    a rare prefix collision only creates one spurious shared fingerprint,
    absorbed by ``min_shared``. Empty array for texts shorter than k.
    """
    n_grams = F.length(t) - (k - 1)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(0))),
        lambda i: F.md5(t.substr(i, F.lit(k))).substr(1, 12),
    )


def _window_minima(hs: Column, w: int) -> Column:
    """Distinct minima of every length-w window over the hash array."""
    n_win = F.size(hs) - (w - 1)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_win, F.lit(0))),
        lambda i: F.array_min(F.slice(hs, i, w)),
    )
    return F.when(n_win >= 1, F.array_distinct(mins)).otherwise(
        F.array().cast("array<string>")
    )


def winnow_fingerprints(
    text: Column | str, k: int = 8, w: int = 6
) -> Column:
    """Winnowing fingerprint set (Schleimer et al., MOSS): hash every
    character k-gram, then keep the minimum hash of each length-w window
    of consecutive k-gram hashes; the distinct minima are the document's
    fingerprints. Guarantees any shared substring of length >= k + w - 1
    yields a shared fingerprint — the principled rolling-hash dedup key.

    Pure array expressions (substring transform -> md5 -> windowed
    array_min); O(len * w) per row, embarrassingly parallel across rows.
    NOTE: higher-order functions are interpreted with no common-
    subexpression elimination, so this single-Column form re-evaluates the
    k-gram hash array once per reference; ``winnow_candidates`` inserts a
    Generate barrier between the two transforms instead — use that entry
    point for anything beyond one row's fingerprints.
    """
    t = F.col(text) if isinstance(text, str) else text
    return _window_minima(_kgram_hashes(t, k), w)


def winnow_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 6,
    min_shared: int = 2,
    max_doc_freq: int | str | None = 10,
) -> DataFrame:
    """Near-dup candidate pairs sharing >= ``min_shared`` winnowed
    fingerprints (inverted-index self-join on fingerprint, count per
    pair) — same scale shape as the MinHash band join.

    ``max_doc_freq`` drops fingerprints appearing in more than that many
    documents BEFORE the self-join: boilerplate fingerprints carry no
    dedup signal but dominate the join (a fingerprint in d docs fans out
    d^2/2 pairs — on this corpus the filter cuts the sf0.1 join from
    ~60M rows to ~33k). This is the standard hot-key guard for
    inverted-index similarity joins at scale.
    """
    max_doc_freq = _resolve_df_cap(df, max_doc_freq)
    # Two Generate barriers: without them Catalyst collapses the
    # projections and the interpreted HOF chain re-evaluates the md5
    # k-gram array for every reference (~50x slower at sf0.1).
    hashed = df.select(
        F.col(id_col),
        F.explode(F.array(_kgram_hashes(F.col(text_col), k))).alias("hs"),
    )
    fps = hashed.select(
        F.col(id_col), F.explode(_window_minima(F.col("hs"), w)).alias("fp")
    )
    if max_doc_freq is not None:
        # count window + filter: the guard rides the same shuffle the
        # postings groupBy needs, instead of an aggregate + semi-join
        # that would re-evaluate the md5 fingerprint lineage per branch.
        fps = fps.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        ).filter(F.col("__df") <= max_doc_freq).drop("__df")
    return (
        grouped_pairs(fps, ["fp"], F.struct(F.col(id_col).alias("id")))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


#: dispatch record of the most recent dedup_clusters call in this
#: process: {"n_edges": int, "disk_mode": bool}
#: — read by the threshold-boundary tests and century diagnostics
LAST_CC_DISPATCH: dict = {}

#: edge count at or above which the per-round CC label checkpoints go to
#: reliable disk-backed ``checkpoint()`` instead of ``localCheckpoint``
CC_DISK_EDGES = 20_000_000

#: mirrored edges per partition of the cached CC loop layout
CC_EDGES_PER_PART = 50_000


def _ensure_checkpoint_dir(spark) -> None:
    """Point the SparkContext at a reliable checkpoint directory if none
    is set yet. ``SPARK_GRAFT_CKPT_DIR`` overrides; otherwise a temp dir
    is created and removed at interpreter exit. On a real cluster this
    would be an HDFS/S3 path set at session build time — the env var is
    that hook."""
    import atexit
    import os
    import shutil
    import tempfile

    sc = spark.sparkContext
    try:
        if sc._jsc.sc().getCheckpointDir().isDefined():
            return
    except Exception:  # pragma: no cover - py4j surface drift
        pass
    d = os.environ.get("SPARK_GRAFT_CKPT_DIR")
    if not d:
        d = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    sc.setCheckpointDir(d)


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 1000,
) -> DataFrame:
    """Resolve near-dup candidate pairs into connected components: every
    document gets ``cluster_id`` = the minimum doc id reachable through
    the pair graph (singletons cluster with themselves). This is the step
    that turns pairwise dedup output into keep/drop decisions.

    Min-label propagation with pointer doubling: each round every node
    takes the min of (its label, its neighbors' labels, its LABEL'S
    label — the shortcut join that collapses label chains exponentially,
    Connected Components a la pointer jumping). The fixpoint (min id per
    component) is unique, so the result is deterministic regardless of
    execution order. Without the shortcut, rounds = graph diameter (a
    measured diameter-16 near-dup chain cost 16 rounds x ~0.5 s of fixed
    per-round overhead at sf0.1); with it, rounds ~ log2(diameter). The
    loop still runs to the EXACT fixpoint (changed == 0): returning
    early would silently hand back unconverged labels that diverge from
    the oracle's recursive-CTE fixpoint. ``max_iters`` is only a runaway
    guard and RAISES if hit. Each round is two id-keyed joins + one
    partial-aggregated groupBy; per-round checkpointing truncates the
    lineage so plans don't grow with iteration count (each round
    references the previous labels TWICE, so an untruncated plan tree
    doubles per round) — the standard Spark iterative-algorithm guard.

    Checkpoint storage is SIZE-DISPATCHED: the mirrored edge set
    persists ``MEMORY_AND_DISK`` (its one-time materialization is the
    dispatch probe; evictable-with-spill, so small edge sets stay
    memory-speed and century-scale sets overflow to disk under execution
    pressure instead of pinning heap), and the per-round label frames
    use in-memory ``localCheckpoint`` below :data:`CC_DISK_EDGES` edges
    and reliable disk-backed ``checkpoint()`` at or above it — at
    century scale an always-local path pins >70 GB of edge+label blocks
    in storage memory (non-evictable: localCheckpoint blocks cannot be
    recomputed). Results are hash-identical across modes (pinned in
    ``tests/test_cc_disk_checkpoint.py``). Reliable checkpoint files are
    reclaimed by the ContextCleaner — ``get_spark`` sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at session
    build (a foreign session without it strands one label set per round
    on local disk for the app's lifetime).
    """
    from pyspark import StorageLevel

    spark = df.sparkSession
    # both directions from ONE evaluation of the (possibly expensive)
    # pair plan — a union of two selects over `pairs` would run the
    # candidate-generation join twice before the materialization
    # MEMORY_AND_DISK, not DISK_ONLY: a plain persist is
    # evictable-with-spill, so small edge sets stay at memory speed
    # (an unconditional DISK_ONLY costs dedup_clusters 1.3x at sf0.1)
    # while century-scale sets overflow to disk instead of pinning
    # heap — the unified memory manager evicts cached blocks whenever
    # execution needs the space. Only the NON-evictable
    # localCheckpoint label blocks need keeping off heap, which the
    # disk_mode dispatch below handles.
    raw_edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = raw_edges.count()  # materializes once; doubles as dispatch probe
    # Loop layout: the edge set is hash-partitioned AND sorted on the
    # probe key ONCE, so every round's neighbor join reads the cached
    # layout with partitioning and ordering intact — the per-round joins
    # then move only the (much smaller) label set, never the edges. The
    # partition count is SIZE-ADAPTIVE (CC_EDGES_PER_PART edges per
    # partition, clamped to [4, session shuffle partitions]) so
    # bench-scale loops don't schedule dozens of near-empty tasks per
    # round while century-scale sets use the cluster's own sizing. The
    # unpartitioned parent cache exists only to (a) price the dispatch
    # probe and (b) keep the expensive pair plan single-evaluation; it
    # is dropped as soon as the partitioned layout has materialized in
    # round 1.
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        # a non-numeric setting (e.g. "auto" where the platform sizes
        # shuffles itself) caps the layout at one partition per core
        conf_parts = spark.sparkContext.defaultParallelism
    per_part = CC_EDGES_PER_PART
    n_parts = max(4, min(conf_parts, (n_edges + per_part - 1) // per_part))
    edges = (
        raw_edges.repartition(n_parts, "src")
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    disk_mode = n_edges >= CC_DISK_EDGES
    # observable dispatch record: boundary tests pin the DECISION
    # itself, not just result parity, so a future threshold bump cannot
    # silently flip a never-exercised path
    LAST_CC_DISPATCH.clear()
    LAST_CC_DISPATCH.update({"n_edges": n_edges, "disk_mode": disk_mode})
    if disk_mode:
        _ensure_checkpoint_dir(spark)

    # TOUCHED-ONLY iteration: only nodes with an incident edge can ever
    # leave their identity label — an untouched node's neighbor min is
    # NULL and its label-of-label is itself, so iterating over every
    # node would recompute (and checkpoint) an unchanged identity row
    # per singleton each round. The loop runs over the edges' endpoint
    # set, read straight off the persisted mirrored edges (dst ranges
    # over BOTH pair sides) — no df semi-join: every call site generates
    # pairs FROM df, so endpoints ⊆ df[id_col] by construction, and a
    # hypothetical foreign endpoint would be dropped by the final
    # df-keyed left join anyway. Singletons rejoin as identity labels in
    # that final coalesce, which is part of the returned lazy plan, not
    # an extra job.
    labels = (
        edges.select(F.col("dst").alias("id"))
        .distinct()
        .withColumn("lab", F.col("id"))
    )
    # Per-round join strategy: the planner's default broadcasts the
    # label set on EVERY round's three joins — ~6 separate
    # broadcast-build jobs per round, pure driver/scheduling latency at
    # bench scale and a per-round collect-to-driver of the whole label
    # set at any scale. Hinting SHUFFLE_HASH instead makes each round
    # ONE job: the edges side reads its cached hash-partitioned/sorted
    # layout with no exchange, and only the label set (a fraction of
    # the edge set) shuffles. In disk_mode
    # (century-scale edge sets) the planner already picks non-broadcast
    # strategies and a per-partition hash build of a huge label set
    # could OOM where sort-merge spills — leave its choice alone there.
    hint_loop = not disk_mode

    def _side(df: DataFrame) -> DataFrame:
        return df.hint("shuffle_hash") if hint_loop else df

    converged = False
    first_round = True
    try:
        for _ in range(max_iters):
            nbr = (
                edges.join(_side(labels), edges.src == labels.id)
                .groupBy("dst")
                .agg(F.min("lab").alias("nlab"))
            )
            # eager checkpoint: materializes the round fully in one job; the
            # short-circuit convergence count then reads checkpointed data.
            # (A lazy checkpoint is a trap here — limit(1) only materializes
            # the partitions it touches, so later rounds recompute the rest
            # through the un-truncated lineage; measured slower at sf0.1.)
            # The shortcut joins against the PREVIOUS round's checkpointed
            # labels (label-of-label), not this round's in-flight result —
            # one-step-stale pointer jumping still halves chain length per
            # round and avoids re-evaluating the un-checkpointed step twice.
            # Round 1 skips the shortcut join outright: labels are the
            # identity map, so label-of-label is a provable no-op there
            # (one join and one shuffle saved on the biggest round).
            if first_round:
                new = labels.join(
                    _side(nbr), labels.id == nbr.dst, "left"
                ).select(
                    "id",
                    F.least(
                        F.col("lab"), F.coalesce("nlab", "lab")
                    ).alias("lab"),
                    (F.col("nlab") < F.col("lab")).alias("__chg"),
                )
            else:
                l2 = labels.select(
                    F.col("id").alias("__pid"), F.col("lab").alias("__plab")
                )
                new = (
                    labels.join(_side(nbr), labels.id == nbr.dst, "left")
                    .join(_side(l2), F.col("lab") == F.col("__pid"), "left")
                    .select(
                        "id",
                        F.least(
                            F.col("lab"),
                            F.coalesce("nlab", "lab"),
                            F.coalesce("__plab", "lab"),
                        ).alias("lab"),
                        (
                            (F.col("nlab") < F.col("lab"))
                            | (F.col("__plab") < F.col("lab"))
                        ).alias("__chg"),
                    )
                )
            # convergence metric OBSERVED on the checkpoint job itself:
            # CollectMetrics rides the materializing action, so each
            # round is ONE job (a `new.filter(__chg).limit(1).count()`
            # would schedule a second job per round over the
            # just-checkpointed data). changed==0 is exact, not sampled.
            obs = Observation()
            new = new.observe(
                obs, F.count(F.when(F.col("__chg"), 1)).alias("n_chg")
            )
            if disk_mode:
                # persist-then-checkpoint: the reliable checkpoint's file
                # write reads the DISK_ONLY blocks instead of recomputing
                # the two joins (the classic Dataset.checkpoint
                # double-compute), and the blocks are released as soon as
                # the checkpoint files exist — per-round storage footprint
                # is one label set on local disk, zero executor heap
                cached = new.persist(StorageLevel.DISK_ONLY)
                new = cached.checkpoint(eager=True)
                cached.unpersist()
            else:
                new = new.localCheckpoint()
            if first_round:
                # round 1 materialized the partitioned+sorted edge
                # layout; the unpartitioned parent cache is now dead
                # weight
                raw_edges.unpersist()
                first_round = False
            changed = obs.get["n_chg"]
            labels = new.drop("__chg")
            if changed == 0:
                converged = True
                break
    finally:
        # always release the edge blocks (both layouts) — an
        # exception mid-round (e.g. checkpoint IO failure) would
        # otherwise leave them pinned for the session lifetime
        edges.unpersist()
        raw_edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dedup_clusters: no fixpoint after {max_iters} rounds "
            "(component diameter exceeds max_iters; raise the cap)"
        )
    # singletons (no incident edge) cluster with themselves — identity
    # labels attach lazily here instead of riding every loop round
    return (
        df.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("lab", "id").alias("cluster_id"),
        )
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_shared: int = 2,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    ``min_shared`` distinct ``shingle_n``-gram shingles with a held-out
    benchmark/eval set — the guard against evaluation leakage every
    production training-corpus build runs (typically with 10-13-gram
    shingles on web text; short documents want a smaller n).

    Scale shape: what ships across the cluster is the benchmark shingle
    VOCABULARY — ``distinct`` shingles of the (small) eval set, not its
    documents — broadcast to every executor, so flagging a 100 TB corpus
    is one map-side semi-join over the exploded corpus shingles plus a
    partial-aggregated ``groupBy(doc_id)`` count. No corpus self-join,
    no doc-frequency guard needed: fan-out per corpus shingle is at most
    1 (the broadcast side is distinct). ``broadcast_benchmark=False``
    falls back to a shuffle hash join for eval sets too large to ship
    whole (rare; even a million 13-gram shingles is tens of MB).

    Returns flagged docs only: (doc_id, n_shared).
    """
    bench_sh = benchmark.select(
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("g")
    ).distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    corp_sh = corpus.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("g"),
    )
    return (
        corp_sh.join(bench_sh, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
) -> DataFrame:
    """EXACT substring deduplication, Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") style. Emitted spans
    are maximal UNIONS of duplicated L-token shingles (L =
    ``min_tokens``): every L-token window inside a span occurs more
    than once in the corpus (across documents OR repeated within one),
    which is removal-mask-equivalent to ExactSubstr — the union of all
    duplicated >=L substrings covers exactly the same token positions.
    A span's FULL content need not itself occur twice anywhere: two
    abutting runs whose halves duplicate against different documents
    merge into one span (fixture-pinned in the substring tests). The
    paper builds a suffix array; the relational equivalent for fixed
    minimum length L is shingle-anchored, so

    1. explode each document into positioned L-token shingles
       (O(tokens) rows, ``transform`` + ``posexplode``, no UDF);
    2. corpus-count each shingle (one shuffle on the shingle string,
       map-side partial agg — boilerplate hot keys are just big counts,
       never a pair fan-out) and keep those with count > 1;
    3. semi-join positions to the duplicated-shingle set (Spark
       broadcasts the dup set when small, shuffles otherwise; AQE
       splits skewed shingle keys);
    4. merge overlapping/adjacent anchor positions per document into
       maximal spans — gaps-and-islands with a doc-keyed LAG window
       (bounded by document length, never corpus-sized).

    No all-pairs joins and no suffix sort; total volume is O(corpus
    tokens) at every stage. Returns (id, span_start, span_end,
    span_tokens), token positions 1-based inclusive — integer-exact
    output, oracle-friendly. Documents shorter than L tokens (or with
    NULL text) yield nothing, matching ``len(w) >= L`` on the SQL side.
    """
    L = min_tokens
    w = tokens(text_col)
    toks = df.select(F.col(id_col).alias("id"), w.alias("w")).filter(
        F.size("w") >= L
    )
    pos_sh = toks.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - F.lit(L - 1)),
                lambda i: F.concat_ws(" ", F.slice("w", i, L)),
            )
        ).alias("p0", "shingle"),
    ).select("id", (F.col("p0") + 1).cast("long").alias("pos"), "shingle")
    dup = (
        pos_sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("shingle")
    )
    anchors = pos_sh.join(dup, "shingle").select("id", "pos")
    wd = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(wd) <= L, F.lit(0)
    ).otherwise(F.lit(1))
    islands = anchors.withColumn("__brk", brk).withColumn(
        "__island",
        F.sum("__brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(L - 1)).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )
