"""Disk-backed vs local checkpoint parity for connected components.

Round-11 verdict #2: `dedup_clusters` used `localCheckpoint` for the
mirrored edge set and the per-round label frames, pinning >70 GB of
executor storage memory at sf100. The scale path is now a reliable
disk-backed `checkpoint()` (size-dispatched on the edge count, forceable
via SPARK_GRAFT_CC_DISK). These tests pin that BOTH modes produce
identical cluster assignments — the dispatch is a storage decision,
never a semantic one — and that the dispatch env vars actually select
the intended mode.
"""

import os

import pytest

from market_microstructure_toolkit_spark.operators.dedup import (
    dedup_clusters,
)


def _clusters_sorted(spark, mode: str):
    """Run a small chain+clique graph through dedup_clusters in the
    given checkpoint mode and return sorted (id, cluster) rows."""
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id long"
    )
    # component A: chain 1-2-3-4-5 (diameter stresses pointer doubling)
    # component B: clique 6,7,8
    # component C: pair 9,10; 11 and 12 are singletons
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),
            (6, 7), (7, 8), (6, 8),
            (9, 10),
        ],
        "id_a long, id_b long",
    )
    old = os.environ.get("SPARK_GRAFT_CC_DISK")
    os.environ["SPARK_GRAFT_CC_DISK"] = mode
    try:
        out = dedup_clusters(docs, pairs)
        rows = sorted(
            (r["doc_id"], r["cluster_id"])
            for r in out.collect()
        )
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_CC_DISK", None)
        else:
            os.environ["SPARK_GRAFT_CC_DISK"] = old
    return rows


EXPECTED = [
    (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
    (6, 6), (7, 6), (8, 6),
    (9, 9), (10, 9),
    (11, 11), (12, 12),
]


def test_local_mode_fixpoint(spark):
    assert _clusters_sorted(spark, "0") == EXPECTED


def test_disk_mode_fixpoint_matches_local(spark):
    assert _clusters_sorted(spark, "1") == EXPECTED


def test_non_numeric_shuffle_partitions(spark, monkeypatch):
    """A non-numeric ``spark.sql.shuffle.partitions`` (e.g. ``auto``,
    which some platforms accept) must not crash the edge layout sizing:
    it falls back to the core count."""
    real_get = spark.conf.get
    seen = []

    def get(key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            seen.append(key)
            return "auto"
        return real_get(key, *args, **kwargs)

    monkeypatch.setattr(spark.conf, "get", get)
    assert _clusters_sorted(spark, "0") == EXPECTED
    assert seen


def test_disk_mode_sets_checkpoint_dir(spark):
    _clusters_sorted(spark, "1")
    assert spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()


def test_auto_dispatch_threshold_env(spark):
    """With the threshold forced to 1 edge, auto mode must take the
    disk path (observable via the checkpoint dir side effect on a
    fresh-dir session we can't easily reset — so instead pin that the
    run still converges to the same fixpoint under the disk path)."""
    old_rows = os.environ.get("SPARK_GRAFT_CC_DISK_ROWS")
    old_force = os.environ.pop("SPARK_GRAFT_CC_DISK", None)
    os.environ["SPARK_GRAFT_CC_DISK_ROWS"] = "1"
    try:
        docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
        pairs = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
        out = sorted(
            (r["doc_id"], r["cluster_id"])
            for r in dedup_clusters(docs, pairs).collect()
        )
        assert out == [(1, 1), (2, 2), (3, 2)]
        assert spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    finally:
        if old_rows is None:
            os.environ.pop("SPARK_GRAFT_CC_DISK_ROWS", None)
        else:
            os.environ["SPARK_GRAFT_CC_DISK_ROWS"] = old_rows
        if old_force is not None:
            os.environ["SPARK_GRAFT_CC_DISK"] = old_force


def test_dispatch_boundary_straddle(spark):
    """Round-12 verdict #7: the SAME graph run with the edge threshold
    set one past its mirrored edge count (local path) and exactly at it
    (disk path, >= semantics) must (a) record the intended dispatch
    decision and (b) produce identical labels. 4 pairs mirror to 8
    edges; threshold 9 -> local, 8 -> disk."""
    from market_microstructure_toolkit_spark.operators import dedup as D

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6)], "id_a long, id_b long"
    )
    old_rows = os.environ.get("SPARK_GRAFT_CC_DISK_ROWS")
    old_force = os.environ.pop("SPARK_GRAFT_CC_DISK", None)
    outs = {}
    try:
        for thresh, want_disk in ((9, False), (8, True), (7, True)):
            os.environ["SPARK_GRAFT_CC_DISK_ROWS"] = str(thresh)
            out = sorted(
                (r["doc_id"], r["cluster_id"])
                for r in dedup_clusters(docs, pairs).collect()
            )
            assert D.LAST_CC_DISPATCH["n_edges"] == 8
            assert D.LAST_CC_DISPATCH["disk_mode"] is want_disk, thresh
            assert D.LAST_CC_DISPATCH["forced"] is None
            outs[thresh] = out
    finally:
        if old_rows is None:
            os.environ.pop("SPARK_GRAFT_CC_DISK_ROWS", None)
        else:
            os.environ["SPARK_GRAFT_CC_DISK_ROWS"] = old_rows
        if old_force is not None:
            os.environ["SPARK_GRAFT_CC_DISK"] = old_force
    assert outs[9] == outs[8] == outs[7]
    assert outs[9] == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)]


def test_dispatch_force_overrides_probe(spark):
    """SPARK_GRAFT_CC_DISK=0/1 overrides the count probe in BOTH
    directions and is recorded as forced."""
    from market_microstructure_toolkit_spark.operators import dedup as D

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    old_rows = os.environ.get("SPARK_GRAFT_CC_DISK_ROWS")
    old_force = os.environ.get("SPARK_GRAFT_CC_DISK")
    try:
        # tiny graph, threshold 1 would dispatch disk — force local
        os.environ["SPARK_GRAFT_CC_DISK_ROWS"] = "1"
        os.environ["SPARK_GRAFT_CC_DISK"] = "0"
        dedup_clusters(docs, pairs).collect()
        assert D.LAST_CC_DISPATCH == {
            "n_edges": 2, "disk_mode": False, "forced": "0"
        }
        # huge threshold would dispatch local — force disk
        os.environ["SPARK_GRAFT_CC_DISK_ROWS"] = "1000000000"
        os.environ["SPARK_GRAFT_CC_DISK"] = "1"
        dedup_clusters(docs, pairs).collect()
        assert D.LAST_CC_DISPATCH["disk_mode"] is True
        assert D.LAST_CC_DISPATCH["forced"] == "1"
    finally:
        for k, v in (
            ("SPARK_GRAFT_CC_DISK_ROWS", old_rows),
            ("SPARK_GRAFT_CC_DISK", old_force),
        ):
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def test_gate_hash_parity_sf001(spark):
    """dedup_clusters gate at sf0.001: disk and local checkpoint modes
    hash-identical on real data."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata absent")
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    fn = REGISTRY["dedup_clusters"].spark
    outs = {}
    old = os.environ.get("SPARK_GRAFT_CC_DISK")
    try:
        for mode in ("0", "1"):
            os.environ["SPARK_GRAFT_CC_DISK"] = mode
            df = fn(spark, sf_dir)
            outs[mode] = sorted(tuple(r) for r in df.collect())
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_CC_DISK", None)
        else:
            os.environ["SPARK_GRAFT_CC_DISK"] = old
    assert outs["0"] == outs["1"]
    assert len(outs["0"]) > 0
