"""Fixed-point integer PageRank over an edge list — graph ranking as a
hash-certifiable iterative DataFrame loop.

Float PageRank is not oracle-able (per-round sums are association-order
dependent), so ranks live as BIGINT scaled by 1e12 and every round is
integer arithmetic only:

    contrib(e)  = rank(src(e)) div outdeg(src(e))        (trunc division)
    rank'(v)    = BASE + (85 * sum(contrib)) div 100
    BASE        = (15 * SCALE) div (100 * N)

All quantities are positive, so Spark's ``div`` (truncation) and DuckDB's
``//`` (floor) agree bit-for-bit, and the whole trajectory replays as
unrolled CTE rounds in the oracle (the bpe_apply_encode pattern applied to
a graph algorithm).  Overflow bound: total rank mass stays ~SCALE = 1e12
(each round redistributes at most the full mass), so ``85 * sum`` is
≤ 8.5e13 « 2^63.

Each round is one equi-join (edges ⋈ ranks on src) + one aggregate
(sum per dst) — the Pregel shape; ``localCheckpoint`` truncates lineage so
round N's plan does not replay rounds 1..N-1 (same treatment as
operators/graph.py::connected_components).  The returned frame's own
plan is therefore a checkpoint scan; the plan gate audits the rounds
through the SQL executions they submit while the query is built
(plans/audit.py::record_build).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12
DAMP_NUM = 85
DAMP_DEN = 100


def pagerank_fixed_point(
    edges: DataFrame, iterations: int = 6
) -> DataFrame:
    """(node, rank_scaled, deg) after `iterations` damped power rounds.

    `edges` must be a DIRECTED edge list (src, dst) where the src and dst
    node sets coincide — pass a symmetrized (undirected) graph to
    guarantee that (no dangling-mass redistribution step is then needed,
    and every node receives mail every round, so no left-join null
    handling). The precondition is ENFORCED, not just documented, in BOTH
    directions: a dst node with no out-edges (outdegree 0) would silently
    drop rank mass every round, and a src node with no in-edges would
    vanish from the rank table after round 1 (round ranks are grouped
    mail — only mail recipients survive). Either way the result is
    wrong-PageRank on BOTH engines: the DuckDB oracle unrolls the
    identical join trajectory, so the hash row would still match while
    both sides computed a rank vector that is not PageRank of the input
    graph. One 1-row aggregate over the full outer join of the out-degree
    table with the dst set counts both kinds of offender (and the nodes)
    and raises ValueError up front instead.
    """
    edges = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("src", "node")
        .localCheckpoint()
    )
    # the preconditions and the node count in one query: a dst with no
    # out-edges is a sink that drops rank mass every round; a src with no
    # in-edges receives no mail and vanishes from the rank table after
    # round 1 — wrong-PageRank on both engines, not an oracle mismatch, so
    # either must fail loudly here. One 1-row collect, same class as the
    # audited 1-row corpus-count collects.
    dsts = edges.select(F.col("dst").alias("node")).distinct()
    check = (
        deg.join(dsts.withColumn("_in", F.lit(True)), "node", "full")
        .agg(
            F.count("deg").alias("n"),
            F.count_if(F.col("deg").isNull()).alias("no_out"),
            F.count_if(F.col("_in").isNull()).alias("no_in"),
        )
        .collect()[0]
    )
    if check["no_out"]:
        raise ValueError(
            "pagerank_fixed_point requires outdegree >= 1 for every node "
            "(symmetrize the edge list first); found dst nodes with no "
            "out-edges"
        )
    if check["no_in"]:
        raise ValueError(
            "pagerank_fixed_point requires indegree >= 1 for every node "
            "(symmetrize the edge list first); found src nodes with no "
            "in-edges — they would vanish from the rank table after "
            "round 1"
        )
    n_nodes = check["n"]
    if n_nodes == 0:
        # empty graph: empty result with the contract schema (guards the
        # base = .../(100*N) division; DuckDB's oracle is vacuously empty
        # on the same input)
        return deg.select(
            "node",
            F.lit(0).cast("long").alias("rank_scaled"),
            "deg",
        )
    base = (15 * SCALE) // (100 * n_nodes)
    init = SCALE // n_nodes
    ranks = deg.select("node", F.lit(init).cast("long").alias("rank_scaled"))
    for _ in range(iterations):
        mail = (
            edges.join(
                ranks.join(deg, "node").withColumnRenamed("node", "src"),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_scaled div deg").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("_in"))
        )
        ranks = mail.select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"({DAMP_NUM} * _in) div {DAMP_DEN}")
            ).alias("rank_scaled"),
        ).localCheckpoint()
    return ranks.join(deg, "node")


def pagerank_oracle_sql(edges_cte: str, iterations: int = 6) -> str:
    """The DuckDB twin: `edges_cte` is a complete ``WITH``-clause body
    defining ``sym(src, dst)`` (the symmetrized distinct edge list); the
    returned SQL unrolls the identical integer trajectory as CTE rounds
    r0..rK and yields (node, rank_scaled, deg)."""
    rounds = []
    prev = "r0"
    for k in range(1, iterations + 1):
        rounds.append(
            f"""r{k} AS (
      SELECT s.dst AS node,
             CAST(((15 * {SCALE}) // (100 * (SELECT n FROM nn)))
               + ({DAMP_NUM} * sum(r.rank_scaled // d.deg)) // {DAMP_DEN}
               AS BIGINT) AS rank_scaled
      FROM sym s
      JOIN {prev} r ON r.node = s.src
      JOIN deg d ON d.node = s.src
      GROUP BY s.dst
    )"""
        )
        prev = f"r{k}"
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH {edges_cte},
    deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (
      SELECT node,
             CAST({SCALE} // (SELECT n FROM nn) AS BIGINT) AS rank_scaled
      FROM deg
    ),
    {rounds_sql}
    SELECT r.node, r.rank_scaled, d.deg
    FROM {prev} r JOIN deg d ON d.node = r.node
    """
