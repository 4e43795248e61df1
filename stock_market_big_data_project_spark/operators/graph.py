"""Connected components over near-dup pair lists (the cluster step of a
dedup pipeline: pairs → components → one canonical doc per component).

Iterative min-label propagation (the Pregel/GraphX formulation): every
node starts labeled with itself; each round a node takes the min of its
own label and its neighbors' labels; fixpoint in O(cluster diameter)
rounds — near-dup clusters are shallow (dozens of docs, diameter ≲ 5), so
the simple propagation beats the large-star/small-star machinery it would
take to guarantee O(log n). Each round is one shuffle join + one
aggregate; `localCheckpoint` truncates lineage so round N's plan does not
replay rounds 1..N-1.

Not SQL-expressible as one query in Spark — the driver loop IS the
operator — but DuckDB's recursive CTE computes the identical fixpoint, so
the result is still oracle-checkable (`connected_components_oracle_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, component) for every node appearing in `pairs`; component =
    the min node id reachable through the undirected pair graph.

    Runs to the fixpoint, which min-label propagation reaches within
    diameter + 1 rounds. Each round carries every node's previous label
    through its aggregate, so the round's own eager checkpoint counts the
    nodes whose label fell (an `Observation`, no extra job): one SQL
    execution per round plus one for the edges."""
    # both directions from ONE read of the pairs plan (a union of the pairs
    # with their swap would run the pairs plan twice)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
                    F.struct(F.col("id_b").alias("u"), F.col("id_a").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    while True:
        # each node hears the labels of its neighbors, keeps the min; its
        # own row alone carries the label it had before the round
        msgs = edges.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label")
        changed = Observation()
        labels = (
            labels.select("node", "label", F.col("label").alias("prev"))
            .unionByName(msgs, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("prev").alias("prev"))
            .observe(
                changed,
                F.count_if(F.col("label") < F.col("prev")).alias("n"),
            )
            .localCheckpoint()
        )
        if changed.get["n"] == 0:
            return labels.select("node", F.col("label").alias("component"))


def connected_components_oracle_sql(pairs_cte: str) -> str:
    """DuckDB twin of `connected_components`: CTE definitions to follow
    `pairs_cte` — an earlier CTE of ``(id_a, id_b)`` rows — inside a
    ``WITH RECURSIVE``. `reach` walks the undirected pair graph to its
    fixpoint and ``cc(node, component)`` keeps the min reachable id."""
    return f"""edges AS (
      SELECT id_a AS u, id_b AS v FROM {pairs_cte}
      UNION SELECT id_b, id_a FROM {pairs_cte}
    ), reach AS (
      SELECT u AS node, u AS r FROM edges
      UNION
      SELECT e.u AS node, reach.r
      FROM edges e JOIN reach ON reach.node = e.v
    ), cc AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    )"""


def bfs_hops(edges: DataFrame, max_hops: int) -> DataFrame:
    """(node, hops) — minimum hop count from the seed min(src) through the
    directed edge list, for every node reachable within `max_hops` rounds
    (empty on an empty edge list).

    Same Pregel shape as connected_components: each round the frontier's
    neighbors learn `hops + 1`, a min-aggregate folds updates into the
    label table, `localCheckpoint` truncates lineage.  Fixed round count
    (not convergence-stopped) so the whole traversal replays as unrolled
    CTE rounds in an oracle — all-integer, hash-certifiable.  At 100 TB
    each round is one edges ⋈ labels equi-join + one aggregate over the
    frontier-adjacent slice."""
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint()
    # the seed stays lazy: round 1 reads it from the checkpointed edges
    labels = (
        edges.agg(F.min("src").alias("node"))
        .filter(F.col("node").isNotNull())
        .select("node", F.lit(0).alias("hops"))
    )
    for _ in range(max_hops):
        grown = (
            edges.join(
                labels.withColumnRenamed("node", "src"), "src"
            ).select(
                F.col("dst").alias("node"),
                (F.col("hops") + 1).alias("hops"),
            )
        )
        labels = (
            labels.unionByName(grown)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint()
        )
    return labels


def bfs_oracle_sql(edges_cte: str, max_hops: int) -> str:
    """DuckDB twin of `bfs_hops`: `edges_cte` defines ``sym(src, dst)``;
    the seed is min(src) over sym, as in `bfs_hops`; the returned SQL
    unrolls the identical min-hop trajectory."""
    rounds = []
    prev = "d0"
    for k in range(1, max_hops + 1):
        rounds.append(
            f"""d{k} AS (
      SELECT node, min(hops) AS hops FROM (
        SELECT node, hops FROM {prev}
        UNION ALL
        SELECT s.dst AS node, p.hops + 1 AS hops
        FROM sym s JOIN {prev} p ON p.node = s.src
      ) GROUP BY node
    )"""
        )
        prev = f"d{k}"
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH {edges_cte},
    d0 AS (
      -- the IS NOT NULL guard keeps d0 vacuously empty on an empty
      -- graph (min over zero rows is NULL), matching the Spark side
      SELECT node, 0 AS hops FROM (
        SELECT CAST((SELECT min(src) FROM sym) AS BIGINT) AS node
      ) WHERE node IS NOT NULL
    ),
    {rounds_sql}
    SELECT node, hops FROM {prev}
    """


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """(node, label) after `rounds` of deterministic semi-synchronous
    label propagation (community detection — Raghavan et al. 2007, made
    engine-reproducible): every node starts labeled with itself; each
    round a node adopts the most frequent label among its neighbors PLUS
    its own current label (the self-vote damps the 2-coloring
    oscillation synchronous LPA exhibits on bipartite graphs), ties
    broken toward the smallest label.  All-integer and fixed-round, so
    the whole trajectory replays as unrolled CTE rounds in an oracle —
    the PageRank/BFS certification pattern applied to community
    detection.  Each round is one edges ⋈ labels equi-join + two
    aggregates (label counts, then the argmax), lineage-truncated."""
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        votes = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), "label")
            .unionByName(labels)
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), -F.col("label"))
                ).alias("label")
            )
            .localCheckpoint()
        )
    return labels


def label_propagation_oracle_sql(edges_cte: str, rounds: int) -> str:
    """DuckDB twin of `label_propagation`: `edges_cte` defines
    ``sym(src, dst)``; unrolled CTE rounds with the identical
    most-frequent / smallest-label-tie-break update."""
    steps = []
    prev = "l0"
    for k in range(1, rounds + 1):
        steps.append(
            f"""l{k} AS (
      SELECT node, first(label ORDER BY cnt DESC, label) AS label FROM (
        SELECT node, label, count(*) AS cnt FROM (
          SELECT s.dst AS node, p.label
          FROM sym s JOIN l{k - 1} p ON p.node = s.src
          UNION ALL
          SELECT node, label FROM l{k - 1}
        ) GROUP BY node, label
      ) GROUP BY node
    )"""
        )
        prev = f"l{k}"
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH {edges_cte},
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    {steps_sql}
    SELECT node, label FROM {prev}
    """


def wedge_pairs(op: DataFrame) -> DataFrame:
    """(c1, c2, shared): node pairs sharing ≥1 part, with the shared-part
    count — the wedge aggregate of bipartite butterfly counting (one
    part-keyed self-join of the incidence list; wedge space is
    Σ_p C(deg(p), 2))."""
    op = op.select("c", "p")
    return (
        op.withColumnsRenamed({"c": "c1"})
        .join(op.withColumnsRenamed({"c": "c2"}), "p")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
