"""PageRank: closed-form graphs, numpy power-iteration parity, mass
conservation, dangling handling, and the DuckDB oracle replay."""

from __future__ import annotations

import numpy as np
import pytest

from featureengineer_spark.operators.graphrank import (
    pagerank,
    pagerank_oracle_sql,
)


def _ref_pagerank(edges, damping=0.85, n_iter=10):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for s, _ in edges:
        deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dangling = r[deg == 0].sum()
        c = np.zeros(n)
        for s, d in edges:
            c[idx[d]] += r[idx[s]] / deg[idx[s]]
        r = (1 - damping) / n + damping * (c + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_two_node_cycle(spark):
    got = _run(spark, [(1, 2), (2, 1)], n_iter=20)
    assert got[1] == pytest.approx(0.5, abs=1e-9)
    assert got[2] == pytest.approx(0.5, abs=1e-9)


def test_star_center_dominates(spark):
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    got = _run(spark, edges, n_iter=15)
    assert got[0] == max(got.values())


def test_matches_numpy_reference(spark):
    # deterministic pseudo-random multigraph incl. dangling nodes
    edges = [((k * 7) % 23, (k * 13 + 5) % 29) for k in range(120)]
    got = _run(spark, edges, n_iter=10)
    ref = _ref_pagerank(edges, n_iter=10)
    assert set(got) == set(ref)
    for node, r in ref.items():
        assert got[node] == pytest.approx(r, abs=1e-9)


def test_mass_conserved(spark):
    edges = [((k * 7) % 23, (k * 13 + 5) % 29) for k in range(120)]
    got = _run(spark, edges, n_iter=10)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_oracle_sql_replays(spark):
    import duckdb

    edges = [((k * 3) % 11, (k * 5 + 2) % 13) for k in range(60)]
    got = _run(spark, edges, n_iter=5)
    con = duckdb.connect()
    con.execute("CREATE TABLE edg (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO edg VALUES (?, ?)", edges)
    sql = pagerank_oracle_sql(
        "SELECT src, dst FROM edg", n_iter=5, round_to=None
    )
    ref = {n: r for n, r in con.execute(sql).fetchall()}
    assert set(got) == set(ref)
    for node, r in ref.items():
        assert got[node] == pytest.approx(r, abs=1e-9)


def test_pagerank_releases_iteration_checkpoints(spark):
    """The power-iteration loop must not accrete one cached rank frame
    per iteration (O(n_iter * |V|) executor storage): after pagerank
    returns, only the FINAL checkpointed rank frame's blocks (plus any
    unrelated pre-existing cache entries) may remain."""
    from featureengineer_spark.operators.graphrank import pagerank

    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    ranks = pagerank(edges, n_iter=8)
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1, (before, after)


def test_checkpoint_release_fallback_logs_and_keeps_ranks(spark, monkeypatch, caplog):
    import json
    import logging

    edges = [((k * 7) % 23, (k * 13 + 5) % 29) for k in range(120)]
    want = _run(spark, edges, n_iter=4)

    # A Spark whose checkpointed frame no longer analyzes to a bare
    # LogicalRDD: the release must fall back, say so, and not touch ranks.
    frame_cls = type(spark.range(1))
    stock = frame_cls.localCheckpoint
    monkeypatch.setattr(
        frame_cls, "localCheckpoint", lambda self, *a, **kw: stock(self, *a, **kw).select("*")
    )
    with caplog.at_level(logging.WARNING, logger="featureengineer_spark"):
        got = _run(spark, edges, n_iter=4)

    lines = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == "featureengineer_spark.operators.graphrank"
    ]
    assert len(lines) == 4  # one per released iteration
    for line in lines:
        assert line["event"] == "graphrank_checkpoint_release_skipped"
        assert "Project" in line["reason"]
    assert set(got) == set(want)
    for node, r in want.items():
        assert got[node] == pytest.approx(r, abs=1e-12)
