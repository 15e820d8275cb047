"""largestar_components: correctness + the log-round scale contract.

The round-3 verdict flagged min-label propagation's weakest 100×-scale
contract: rounds = component diameter, so a pathological duplicate CHAIN
meant up to 25 full join rounds and then a RuntimeError. The
large-star/small-star replacement must label a long path graph correctly
in O(log n) rounds — that property is asserted here directly, on graphs
the dd02 edge generator would never produce.
"""

import pytest
from pyspark.sql import functions as F

from rsmetacheck_spark.operators.cc import largestar_components


def _ckpt(df, tag):
    # tests run at tiny scale; localCheckpoint gives the same round
    # barrier without scratch-parquet churn
    return df.localCheckpoint(eager=True)


def _labels(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = largestar_components(df, _ckpt, **kw)
    return {r.doc_id: r.group_rep for r in out.collect()}


def test_two_components(spark):
    got = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_single_edge_and_duplicates(spark):
    got = _labels(spark, [(5, 9), (5, 9), (5, 9)])
    assert got == {5: 5, 9: 5}


def test_empty(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert largestar_components(df, _ckpt).count() == 0


def test_star_already_converged(spark):
    stats = {}
    got = _labels(spark, [(0, i) for i in range(1, 20)], stats_out=stats)
    assert got == {i: 0 for i in range(20)}
    assert stats["rounds"] <= 2


def test_long_chain_log_rounds(spark):
    # 4096-node path graph: diameter 4095. Min-label propagation needs
    # ~4095 rounds (the old 25-round cap RAISED here); star contraction
    # must finish in O(log n) — assert a hard small bound and exact labels.
    n = 4096
    stats = {}
    got = _labels(spark, [(i, i + 1) for i in range(n - 1)], stats_out=stats)
    # log2(4096)=12 contraction rounds + 1 fixed-point confirming round
    assert stats["rounds"] <= 14, stats
    assert len(got) == n and set(got.values()) == {0}


def test_chain_reversed_ids(spark):
    # descending chain: the min sits at the HIGH-degree end of nothing —
    # worst case for naive "propagate from min" intuitions
    n = 512
    stats = {}
    pairs = [(n - i - 1, n - i) for i in range(1, n)]  # (n-2,n-1)...(0,1)
    got = _labels(spark, pairs, stats_out=stats)
    assert stats["rounds"] <= 12, stats
    assert len(got) == n and set(got.values()) == {0}


def test_random_graph_matches_networkx_style_bfs(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(300))
    pairs = set()
    while len(pairs) < 400:
        a, b = rng.sample(nodes, 2)
        pairs.add((min(a, b), max(a, b)))
    pairs = sorted(pairs)

    # independent union-find ground truth
    parent = list(range(300))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {}
    for a, b in pairs:
        for x in (a, b):
            truth[x] = find(x)

    got = _labels(spark, pairs)
    assert got == truth


def test_cached_round_tag_raises_instead_of_hanging(spark, monkeypatch):
    """A checkpoint fn that serves a per-round tag from its cache runs no
    write, so nothing fills that round's Observation. The round must fail
    with an error naming the tag, not block forever on `Observation.get`.
    The hard wall-clock bound is a daemon thread joined with a timeout
    (no pytest-timeout here)."""
    import threading

    from rsmetacheck_spark.operators import cc

    monkeypatch.setattr(cc, "OBSERVE_TIMEOUT_S", 1.0)
    cache = {}

    def caching_ckpt(df, tag):
        if tag not in cache:
            cache[tag] = df.localCheckpoint(eager=True)
        return cache[tag]

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    largestar_components(pairs, caching_ckpt)  # fills the cache
    box = {}

    def second_run():
        try:
            largestar_components(pairs, caching_ckpt)
        except RuntimeError as exc:
            box["error"] = str(exc)

    t = threading.Thread(target=second_run, daemon=True)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "largestar_components blocked on a cached tag"
    assert "cc_star_0" in box.get("error", ""), box
