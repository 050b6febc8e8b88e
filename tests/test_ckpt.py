"""Materialization lifecycle: every checkpoint, layout cache and release
goes through ``klinker_spark.ckpt``, and no operator leaves storage
behind that its result does not read."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from klinker_spark import ckpt
from klinker_spark.session import _MATERIALIZED_LEAF_HEADS, _plan_heads

PKG = pathlib.Path(__file__).resolve().parents[1] / "klinker_spark"

EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"), ("e", "a"), ("b", "e"),
]


def _cc(algorithm, local_threshold):
    def run(spark):
        from klinker_spark.ops.curation import connected_components

        e = spark.createDataFrame(EDGES + [("x", "y")], "src string, dst string")
        return connected_components(
            e, algorithm=algorithm, local_threshold=local_threshold
        )

    return run


def _graph(op, **kw):
    def run(spark):
        import klinker_spark.ops.graph as g

        e = spark.createDataFrame(EDGES, "x string, y string")
        return getattr(g, op)(e, a_col="x", b_col="y", **kw)

    return run


def _pagerank(spark):
    from klinker_spark.ops.graph import pagerank

    return pagerank(spark.createDataFrame(EDGES, "head string, tail string"), iters=3)


def _boruvka(spark):
    from klinker_spark.ops.clustering import boruvka_mst

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 3.0), ("c", "d", 1.5), ("e", "f", 0.5)],
        "a string, b string, w double",
    )
    vertices = spark.createDataFrame([(v,) for v in "abcdefg"], "id string")
    return boruvka_mst(edges, vertices)


def _dbscan(spark):
    from klinker_spark.ops.clustering import dbscan_labels

    pts = [
        ("p1", [1.0, 0.0]), ("p2", [0.99, 0.05]), ("p3", [0.98, 0.1]),
        ("q1", [0.0, 1.0]), ("q2", [0.05, 0.99]), ("q3", [0.1, 0.98]),
        ("z", [-1.0, -1.0]),
    ]
    return dbscan_labels(
        spark.createDataFrame(pts, "id string, vector array<double>"), min_sim=0.99, min_pts=2
    )


OPERATORS = {
    "pagerank": _pagerank,
    "triangle_count": _graph("triangle_count"),
    "label_propagation": _graph("label_propagation", iters=3),
    "k_core": _graph("k_core", k=2),
    "bfs_distances": _graph("bfs_distances", sources=["a"], max_depth=3),
    "bfs_distances_early_stop": _graph("bfs_distances", sources=["d"], max_depth=6),
    "hits": _graph("hits", iters=2),
    # forced above ITER_PARTITIONED_EDGE_MIN: per-key layout caches
    "label_propagation@gate0": _graph("label_propagation", iters=3),
    "bfs_distances@gate0": _graph("bfs_distances", sources=["a"], max_depth=3),
    "hits@gate0": _graph("hits", iters=2),
    "cc_propagation": _cc("propagation", 0),
    "cc_star": _cc("star", 0),
    "cc_local": _cc("propagation", 100_000),
    "boruvka_mst": _boruvka,
    "dbscan_labels": _dbscan,
}


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _materialized_leaves(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(h in _MATERIALIZED_LEAF_HEADS for h in _plan_heads(plan))


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_leaves_only_what_its_result_reads(spark, name, monkeypatch):
    """After a result is built and consumed, the persistent RDDs the
    operator added are at most the materialized leaves its result's
    plan reads — every intermediate checkpoint or cache was freed.
    (A leaf the result reads is the caller's: ``ckpt.release``.)"""
    import klinker_spark.ops.graph as g

    if name.endswith("@gate0"):
        monkeypatch.setattr(g, "ITER_PARTITIONED_EDGE_MIN", 0)
    ckpt.release_all(spark)
    before = _persistent_rdds(spark)
    out = OPERATORS[name](spark)
    assert out.collect()
    added = _persistent_rdds(spark) - before
    assert added <= _materialized_leaves(out), (
        f"{name}: {added} persistent RDDs added, result reads "
        f"{_materialized_leaves(out)} materialized leaves"
    )
    ckpt.release_all(spark)


def test_release_frees_returned_checkpoint_and_cache(spark):
    """``release`` frees a checkpoint's blocks and a cached frame alike,
    ignores ``None``, and swallows errors on plain frames."""
    ckpt.release_all(spark)
    cp = ckpt.checkpoint(spark.range(10))
    cached = ckpt.layout_cache(spark.range(10), "id")
    cached.count()
    assert _persistent_rdds(spark) == 2
    ckpt.release(cp, None, spark.range(3), cached)
    assert _persistent_rdds(spark) == 0
    assert not cached.is_cached


def test_checkpoint_replacing_rotates_state(spark):
    ckpt.release_all(spark)
    state = ckpt.checkpoint(spark.range(5))
    for _ in range(3):
        state = ckpt.checkpoint(state.select((F.col("id") + 1).alias("id")), replacing=state)
        assert _persistent_rdds(spark) == 1
    assert sorted(r.id for r in state.collect()) == [3, 4, 5, 6, 7]
    ckpt.release(state)
    assert _persistent_rdds(spark) == 0


def _package_sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


@pytest.mark.parametrize(
    "pattern, home",
    [
        (r"\.localCheckpoint\(", "ckpt.py"),
        (r'spark\.sql\.shuffle\.partitions"\)', "ckpt.py"),
        (r"[<>]=?\s*ITER_PARTITIONED_EDGE_MIN\b", "ops/graph.py"),
        (r"try:\s*\n\s*[\w.]+\.unpersist\([^)]*\)\s*\n\s*except Exception:\s*\n\s*pass", "ckpt.py"),
    ],
)
def test_materialization_decisions_live_in_one_helper(pattern, home):
    """Checkpointing, the shuffle-partition lookup, the iterative edge
    layout gate and error-swallowing unpersists each exist in exactly
    one place, so per-operator copies cannot come back."""
    hits = {
        rel: len(re.findall(pattern, src)) for rel, src in _package_sources()
    }
    hits = {rel: n for rel, n in hits.items() if n}
    assert set(hits) <= {home}, f"{pattern!r} outside {home}: {hits}"
    if "ITER_PARTITIONED" in pattern:
        assert hits == {home: 1}, hits
