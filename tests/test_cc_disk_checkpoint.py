"""Disk-backed vs local checkpoint parity for connected components.

`localCheckpoint` label frames pin >70 GB of executor storage memory at
sf100, so `dedup_clusters` switches to a reliable disk-backed
`checkpoint()` at `CC_DISK_EDGES` mirrored edges. These tests pin that
BOTH modes produce identical cluster assignments — the dispatch is a
storage decision, never a semantic one — and that the threshold
actually selects the intended mode. Each arm is forced by patching the
module constant.
"""

import os

import pytest

from market_microstructure_toolkit_spark.operators import dedup as D
from market_microstructure_toolkit_spark.operators.dedup import (
    dedup_clusters,
)

#: thresholds that force each checkpoint mode on any graph
LOCAL, DISK = 10**18, 0


def _clusters_sorted(spark, monkeypatch, threshold: int):
    """Run a small chain+clique graph through dedup_clusters with the
    disk threshold at ``threshold`` edges and return sorted
    (id, cluster) rows."""
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
    monkeypatch.setattr(D, "CC_DISK_EDGES", threshold)
    out = dedup_clusters(docs, pairs)
    return sorted((r["doc_id"], r["cluster_id"]) for r in out.collect())


EXPECTED = [
    (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
    (6, 6), (7, 6), (8, 6),
    (9, 9), (10, 9),
    (11, 11), (12, 12),
]


def test_local_mode_fixpoint(spark, monkeypatch):
    assert _clusters_sorted(spark, monkeypatch, LOCAL) == EXPECTED
    assert D.LAST_CC_DISPATCH["disk_mode"] is False


def test_disk_mode_fixpoint_matches_local(spark, monkeypatch):
    assert _clusters_sorted(spark, monkeypatch, DISK) == EXPECTED
    assert D.LAST_CC_DISPATCH["disk_mode"] is True


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
    assert _clusters_sorted(spark, monkeypatch, LOCAL) == EXPECTED
    assert seen


def test_disk_mode_sets_checkpoint_dir(spark, monkeypatch):
    _clusters_sorted(spark, monkeypatch, DISK)
    assert spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()


def test_auto_dispatch_threshold_env(spark, monkeypatch):
    """With the threshold at 1 edge, a 2-edge graph must take the disk
    path (observable via the dispatch record and the checkpoint dir)
    and still converge to the same fixpoint."""
    monkeypatch.setattr(D, "CC_DISK_EDGES", 1)
    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    out = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(docs, pairs).collect()
    )
    assert out == [(1, 1), (2, 2), (3, 2)]
    assert D.LAST_CC_DISPATCH == {"n_edges": 2, "disk_mode": True}
    assert spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()


def test_dispatch_boundary_straddle(spark, monkeypatch):
    """The SAME graph run with the edge threshold
    set one past its mirrored edge count (local path) and exactly at it
    (disk path, >= semantics) must (a) record the intended dispatch
    decision and (b) produce identical labels. 4 pairs mirror to 8
    edges; threshold 9 -> local, 8 -> disk."""
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6)], "id_a long, id_b long"
    )
    outs = {}
    for thresh, want_disk in ((9, False), (8, True), (7, True)):
        monkeypatch.setattr(D, "CC_DISK_EDGES", thresh)
        out = sorted(
            (r["doc_id"], r["cluster_id"])
            for r in dedup_clusters(docs, pairs).collect()
        )
        assert D.LAST_CC_DISPATCH == {"n_edges": 8, "disk_mode": want_disk}
        outs[thresh] = out
    assert outs[9] == outs[8] == outs[7]
    assert outs[9] == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)]


def test_gate_hash_parity_sf001(spark, monkeypatch):
    """dedup_clusters gate at sf0.001: disk and local checkpoint modes
    hash-identical on real data."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata absent")
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    fn = REGISTRY["dedup_clusters"].spark
    outs = {}
    for mode, threshold in (("local", LOCAL), ("disk", DISK)):
        monkeypatch.setattr(D, "CC_DISK_EDGES", threshold)
        df = fn(spark, sf_dir)
        outs[mode] = sorted(tuple(r) for r in df.collect())
        assert D.LAST_CC_DISPATCH["disk_mode"] is (mode == "disk")
    assert outs["local"] == outs["disk"]
    assert len(outs["local"]) > 0
