"""Stage 6: connected components vs a union-find oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pboh_spark import cluster


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle(edges):
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    return {x: uf.find(x) for x in list(uf.p)}


def _random_edges(rng, n_nodes, n_edges):
    return [
        (int(rng.integers(n_nodes)), int(rng.integers(n_nodes)))
        for _ in range(n_edges)
    ]


@pytest.mark.parametrize("algo", [
    cluster.connected_components, cluster.connected_components_star
])
def test_cc_random_graphs(spark, algo):
    rng = np.random.default_rng(13)
    edges = [e for e in _random_edges(rng, 200, 150) if e[0] != e[1]]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["mention_id_a", "mention_id_b"])
    )
    got = {r["id"]: r["cluster_id"] for r in algo(df).collect()}
    want = _oracle(edges)
    # canonical min-label: roots must agree exactly
    # (both use min element of component)
    comp_want = {}
    for k, v in want.items():
        comp_want.setdefault(v, set()).add(k)
    for root, members in comp_want.items():
        labels = {got[m] for m in members}
        assert len(labels) == 1, f"component {root} split: {labels}"
        assert labels == {min(members)}


def test_cc_chain_graph(spark):
    """Long chain — worst case diameter for label propagation; must still
    converge within the iteration bound."""
    n = 300
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["mention_id_a", "mention_id_b"])
    )
    got = cluster.connected_components(df, max_iter=30).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert len(got) == n


def test_clusters_table_keeps_singletons(spark):
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "mention_id": [1, 2, 3],
                "conv_id": ["a", "a", "b"],
                "turn_idx": [0, 1, 0],
                "ngram": ["x", "y", "z"],
            }
        )
    )
    comp = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "cluster_id": [1, 1]})
    )
    out = {r["mention_id"]: r["cluster_id"]
           for r in cluster.clusters_table(mentions, comp).collect()}
    assert out == {1: 1, 2: 1, 3: 3}


def _pinned(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_release_frees_persisted_and_checkpointed_frames(spark):
    from pboh_spark.util import release

    before = _pinned(spark)
    df = spark.range(100).selectExpr("id", "id % 3 AS k")
    cached = df.persist()
    cached.count()
    eager = df.localCheckpoint()
    lazy = df.groupBy("k").count().localCheckpoint(eager=False)
    lazy.count()
    assert len(_pinned(spark) - before) == 3
    release(cached, eager, lazy)
    assert _pinned(spark) - before == set()


def test_cc_pins_only_the_returned_labels(spark):
    """Every superseded round's checkpoint and the symmetric edge list
    are released; at most the frame behind the labels stays pinned."""
    edges = spark.createDataFrame(
        pd.DataFrame(
            [(i, i + 1) for i in range(63)],
            columns=["mention_id_a", "mention_id_b"],
        )
    )
    before = _pinned(spark)
    labels = cluster.connected_components(edges)
    assert len(_pinned(spark) - before) <= 1
    got = labels.collect()
    assert len(got) == 64 and all(r["cluster_id"] == 0 for r in got)


def test_merge_edges_into_components_pins_nothing(spark):
    """Two incremental folds leave the pinned count unchanged while
    every returned mapping is held (and still readable), so nothing
    behind a mapping is freed by ContextCleaner instead."""
    schema = "mention_id_a long, mention_id_b long"
    before = _pinned(spark)
    held = [spark.createDataFrame([], "id long, cluster_id long")]
    for rows in ([(5, 9), (9, 7), (20, 30)], [(30, 40), (9, 40)]):
        held.append(cluster.merge_edges_into_components(
            held[-1], spark.createDataFrame(rows, schema)
        ))
    assert _pinned(spark) - before == set()
    assert sorted(tuple(r) for r in held[-1].collect()) == [
        (5, 5), (7, 5), (9, 5), (20, 5), (30, 5), (40, 5),
    ]


def test_cc_labels_and_surface_pipeline_pin_nothing(
    spark, universe, tmp_path, monkeypatch
):
    """``release`` frees what CC pins behind the labels it returns, and
    a fresh surface-mode ``run_pipeline`` leaves no new pinned RDD. The
    test holds every CC result, so ContextCleaner cannot free a leaked
    checkpoint behind its back."""
    from pboh_spark import synth
    from pboh_spark.pipeline import run_pipeline
    from pboh_spark.util import release

    edges = spark.createDataFrame(
        pd.DataFrame(
            [(i, i + 1) for i in range(31)],
            columns=["mention_id_a", "mention_id_b"],
        )
    )
    before = _pinned(spark)
    labels = cluster.connected_components(edges)
    release(labels)
    assert _pinned(spark) - before == set()

    held = []
    cc = cluster.connected_components

    def holding(*args, **kw):
        held.append(cc(*args, **kw))
        return held[-1]

    monkeypatch.setattr(cluster, "connected_components", holding)
    transcripts, _ = synth.generate_transcripts(spark, 60, universe=universe)
    anchors = synth.generate_anchors(spark, 1000, universe=universe)
    before = _pinned(spark)
    run_pipeline(
        spark, transcripts, anchors, str(tmp_path / "surf"),
        with_lbp=False, surface_mode=True,
    )
    assert len(held) == 1
    assert _pinned(spark) - before == set()
