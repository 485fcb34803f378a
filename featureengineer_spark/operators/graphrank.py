"""Distributed PageRank over an edge table — the host/page centrality
prior of web curation (Common Crawl publishes host-level PageRank /
harmonic-centrality rankings, and published pipelines use link-graph
centrality as a quality signal alongside content filters).

Power iteration expressed as DataFrames: each round is ONE equi join
(edges x ranks on src) + ONE hash aggregation (sum contributions per
dst) + a 1-row dangling-mass aggregate — shuffle volume is bounded by
|edges| + |nodes| per round, nothing driver-side except two scalars
(node count, dangling mass). Multi-edges are honored (a host linking
twice contributes twice; out-degree counts multiplicity). Dangling
nodes (no out-edges) redistribute their mass uniformly, so total rank
stays 1 and the result matches the textbook formulation:

    r'(v) = (1-d)/N + d * ( sum_{u->v} r(u)/deg(u) + dangling/N )

Fixed iteration count (not convergence-tested) keeps the output a pure
function of the input — which is what lets the whole run replay in
DuckDB as an unrolled CTE chain for the value oracle.

Unlike :func:`hierarchy.resolve_roots` / ``dedup.near_dup_clusters``
there is no pointer-doubling shortcut here — PageRank's fixpoint is a
numeric eigenvector, inherently O(iters) passes; the scale lever is
that each pass is a single bounded shuffle and ``localCheckpoint``
truncates the plan so iteration N does not replay iterations 1..N-1.

Reference analog: the reference has no graph operators; this extends
the engine the same way the dedup/LSH family does (public-pipeline
capability the raw operator inventory lacks).
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featureengineer_spark._log import log_event

_log = logging.getLogger(__name__)


def _release_local_checkpoint(df: DataFrame | None) -> None:
    """Free the cached blocks behind an (eager) ``localCheckpoint`` frame
    once nothing references it — ``DataFrame.unpersist`` does not cover
    them (the blocks belong to the checkpointed RDD, not the cache
    manager), so a loop of checkpoints otherwise retains
    O(n_iter * |frame|) executor storage for the life of the job. Reaches
    the RDD through the analyzed plan's ``LogicalRDD`` node, a private
    accessor: when the node is anything else or the accessor moved, the
    blocks are kept (the old behavior, never an error) and one
    structured log line says why."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        node = plan.nodeName()
        if node == "LogicalRDD":
            plan.rdd().unpersist(False)
            return
        reason = f"analyzed plan node is {node}, not LogicalRDD"
    except (AttributeError, Py4JError) as e:
        reason = f"{type(e).__name__}: {str(e)[:200]}"
    log_event(_log, "graphrank_checkpoint_release_skipped", reason=reason)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """(node, rank) after ``n_iter`` damped power-iteration rounds,
    starting uniform. Ranks sum to 1 (dangling mass redistributed)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        nodes.unpersist()
        return nodes.select(
            F.col("node"), F.lit(0.0).alias("rank")
        ).limit(0)
    deg = e.groupBy("src").agg(F.count("*").alias("__deg")).persist()
    e = e.join(deg, on="src", how="inner").persist()  # carry deg per edge

    ranks = nodes.select(
        "node", (F.lit(1.0) / F.lit(float(n_nodes))).alias("rank")
    ).localCheckpoint(eager=True)
    base = (1.0 - damping) / n_nodes
    for _ in range(n_iter):
        # dangling mass: rank held by nodes with no out-edges (1-row agg)
        dangling = (
            ranks.join(deg, ranks.node == deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("s"))
            .collect()[0]["s"]
        )
        contrib = (
            e.join(ranks, e.src == ranks.node, "inner")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__c"))
        )
        new_ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__c"), F.lit(0.0))
                        + F.lit(float(dangling) / n_nodes)
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        # the new checkpoint is self-contained data; the previous
        # iteration's blocks are now unreachable — release them instead
        # of accreting n_iter copies of the rank frame in storage
        _release_local_checkpoint(ranks)
        ranks = new_ranks
    nodes.unpersist()
    deg.unpersist()
    e.unpersist()
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    damping: float = 0.85,
    n_iter: int = 10,
    round_to: int | None = 6,
) -> str:
    """The DuckDB replay of :func:`pagerank` as one SQL string:
    ``edges_cte`` must be a SELECT yielding (src, dst). The iteration is
    UNROLLED (r0..rN chained CTEs) — the one-materialization-per-round
    plan a single-node engine would use, and exactly why the operator
    exists Spark-side for 10^11-edge graphs."""
    d = float(damping)
    parts = [
        f"WITH e AS ({edges_cte})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "deg AS (SELECT src, count(*)::DOUBLE AS d FROM e GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)",
    ]
    for i in range(n_iter):
        prev, cur = f"r{i}", f"r{i + 1}"
        parts.append(
            f"dg{i} AS (SELECT coalesce(sum(r.rank), 0.0) AS m FROM {prev} r "
            "LEFT JOIN deg ON deg.src = r.node WHERE deg.src IS NULL)"
        )
        parts.append(
            f"c{i} AS (SELECT e.dst, sum(r.rank / deg.d) AS s FROM e "
            f"JOIN {prev} r ON r.node = e.src "
            "JOIN deg ON deg.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"{cur} AS (SELECT nodes.node, "
            f"(1.0 - {d}) / nn.n + {d} * (coalesce(c.s, 0.0) + dg.m / nn.n)"
            f" AS rank FROM nodes CROSS JOIN nn CROSS JOIN dg{i} dg "
            f"LEFT JOIN c{i} c ON c.dst = nodes.node)"
        )
    rank_expr = (
        f"round(rank, {round_to})" if round_to is not None else "rank"
    )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, {rank_expr} AS rank FROM r{n_iter}"
    )
