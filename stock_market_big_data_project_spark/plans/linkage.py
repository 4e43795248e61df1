"""Record linkage and graph ranking — the entity-resolution tier.

Two operators the reference's pandas scripts would need the moment their
data stopped being perfectly keyed:

- **SymSpell fuzzy join** (operators/symspell.py): exact edit-distance-≤1
  matching between a clean registry and a dirty feed, via deletion-
  neighborhood blocking — complete (no missed matches, unlike prefix or
  q-gram blocking) and never all-pairs.
- **Fixed-point integer PageRank** (operators/pagerank.py): damped power
  iteration over the customer↔part co-purchase graph, all-integer so the
  full trajectory hash-certifies against unrolled CTE rounds in DuckDB.

The "dirty feed" is derived deterministically from the customer table
(one character overwritten at a key-dependent position) so both engines
construct the identical linkage problem from the shared fixtures — the
same generate-inside-the-oracle pattern as the multimodal codec queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import (
    bfs_hops,
    bfs_oracle_sql,
    label_propagation,
    label_propagation_oracle_sql,
    wedge_pairs,
)
from ..operators.pagerank import pagerank_fixed_point, pagerank_oracle_sql
from ..operators.symspell import (
    fuzzy_join_dist1,
    oracle_deletion_keys_cte,
    oracle_deletion_keys_depth2_cte,
)
from ..sources.tables import load_table
from .registry import register, register_local

# One character overwritten with 'X' ('X' never occurs in fixture names,
# so every dirty row is at exact distance 1 from its source) at a
# key-dependent position — both engines compute the identical feed.
_DIRTY_POS = "(1 + (c_custkey % length(c_name)))"
_DIRTY_NAME_SQL = (
    f"substr(c_name, 1, {_DIRTY_POS} - 1) || 'X' || "
    f"substr(c_name, {_DIRTY_POS} + 1)"
)


def _clean_and_dirty(spark: SparkSession, sf_dir: str):
    customer = load_table(spark, sf_dir, "customer")
    clean = customer.select(
        F.col("c_custkey").alias("clean_id"), F.col("c_name").alias("clean_name")
    )
    dirty = customer.select(
        F.col("c_custkey").alias("dirty_id"),
        F.expr(
            f"concat(substring(c_name, 1, {_DIRTY_POS} - 1), 'X', "
            f"substring(c_name, {_DIRTY_POS} + 1))"
        ).alias("dirty_name"),
    )
    return clean, dirty


@register(
    "symspell_fuzzy_join_dist1",
    oracle=f"""
    WITH clean AS (
      SELECT c_custkey AS id, c_name AS name FROM customer
    ), dirty AS (
      SELECT c_custkey AS id, {_DIRTY_NAME_SQL} AS name FROM customer
    ), ck AS ({oracle_deletion_keys_cte('clean')}
    ), dk AS ({oracle_deletion_keys_cte('dirty')}
    ), cand AS (
      SELECT DISTINCT ck.id AS clean_id, ck.name AS clean_name,
                      dk.id AS dirty_id, dk.name AS dirty_name
      FROM ck JOIN dk ON ck.key = dk.key
    )
    SELECT clean_id, clean_name, dirty_id, dirty_name,
           CAST(levenshtein(clean_name, dirty_name) AS INTEGER) AS edit_distance
    FROM cand
    WHERE levenshtein(clean_name, dirty_name) <= 1
    """,
)
def symspell_fuzzy_join_dist1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distance-≤1 linkage between the customer registry and its
    deterministically-corrupted feed.  Every dirty row links back to its
    source (planted recall = 100% by construction, asserted in
    tests/test_linkage.py) plus the genuine near-collisions (keys that
    differ only at the corrupted digit).  The blocking join is a hash
    equi-join on deletion keys — n·(len+1) rows through one exchange,
    block sizes bounded by true key collisions; Levenshtein runs once per
    CANDIDATE.  No all-pairs at any scale."""
    clean, dirty = _clean_and_dirty(spark, sf_dir)
    return fuzzy_join_dist1(
        clean, dirty, "clean_id", "clean_name", "dirty_id", "dirty_name"
    )


# --------------------------------------------------------------------------
# PageRank over the co-purchase bipartite graph: customer <-> part edges
# from orders ⋈ lineitem, symmetrized so every node has outdegree >= 1.
# Node encoding: customer -> 2*key, part -> 2*key + 1 (disjoint id spaces).
# --------------------------------------------------------------------------
_PR_ITERATIONS = 6

_PR_EDGES_CTE = """e0 AS (
      SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_partkey + 1 AS dst
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    sym AS (
      SELECT src, dst FROM e0
      UNION
      SELECT dst AS src, src AS dst FROM e0
    )"""


def _symmetrize(e0: DataFrame) -> DataFrame:
    """Directed (src, dst) ∪ (dst, src), deduped — shared by the batch
    edge builder and the streaming edge-maintenance parity so the
    symmetrization can never drift between the tiers. Both directions
    come from one read of `e0` (a union with its swap would run the
    e0 plan twice)."""
    return (
        e0.select(
            F.explode(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized distinct co-purchase edge list (one equi-join +
    one distinct) that every graph query iterates over."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (2 * F.col("o_custkey")).alias("src"),
            (2 * F.col("l_partkey") + 1).alias("dst"),
        )
        .distinct()
    )
    return _symmetrize(e0)


def _decode_nodes(df: DataFrame, *cols) -> DataFrame:
    """(node_type, key, *cols) from the node encoding above."""
    return df.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("part"))
        .alias("node_type"),
        F.expr("node div 2").alias("key"),
        *cols,
    )


# The oracle twin of `_decode_nodes`.
_DECODE_NODES_SQL = """CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'part' END AS node_type,
           node // 2 AS key"""

_PAGERANK_ORACLE = f"""
    SELECT {_DECODE_NODES_SQL},
           rank_scaled,
           deg
    FROM ({pagerank_oracle_sql(_PR_EDGES_CTE, _PR_ITERATIONS)})
    """


@register_local("pagerank_copurchase", oracle=_PAGERANK_ORACLE)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six damped integer power rounds over the co-purchase graph; the
    oracle replays the identical trajectory as six unrolled CTE rounds
    (operators/pagerank.py docstring has the arithmetic contract).  At
    100 TB each round is one keyed shuffle over the edge list + one
    aggregate — the Pregel shape, lineage-truncated per round."""
    pr = pagerank_fixed_point(
        _copurchase_edges(spark, sf_dir), _PR_ITERATIONS
    )
    return _decode_nodes(pr, "rank_scaled", "deg")


# --------------------------------------------------------------------------
# BFS shortest hops over the same co-purchase graph — reachability as the
# traversal sibling of PageRank's ranking.  Seed = min node id (a
# customer); 4 rounds reaches the bipartite graph's 4-hop neighborhood.
# --------------------------------------------------------------------------
_BFS_HOPS = 4


@register_local(
    "bfs_shortest_hops",
    oracle=f"""
    SELECT {_DECODE_NODES_SQL},
           hops
    FROM ({bfs_oracle_sql(_PR_EDGES_CTE, _BFS_HOPS)})
    """,
)
def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round Pregel BFS (operators/graph.py::bfs_hops) from the
    lowest customer node; the oracle replays the identical min-hop
    trajectory as unrolled CTE rounds (the PageRank pattern applied to
    traversal)."""
    return _decode_nodes(
        bfs_hops(_copurchase_edges(spark, sf_dir), _BFS_HOPS), "hops"
    )


@register_local("streaming_pagerank_edges_parity", oracle=_PAGERANK_ORACLE)
def streaming_pagerank_edges_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase graph maintained on the LIVE lineitem append path —
    the thirteenth streaming parity: each micro-batch joins its delta
    against the static orders dimension and appends delta-sized directed
    edge candidates; the at-rest edge table folds duplicates with one
    distinct (set-union maintenance — the IVF-index pattern applied to a
    graph); PageRank then runs from the maintained edge set through the
    SAME `pagerank_fixed_point` as the batch query, under the SAME
    unrolled-CTE oracle.  The replay is range-split by l_orderkey into
    three micro-batches, so the same (customer, part) edge arrives from
    multiple batches and the hash match proves the set-merge law.
    Per-tick work is delta-sized (one stream-static equi-join)."""
    from ..streaming.ingest import replay

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    def per_batch(scratch: str, batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.join(orders, batch_df.l_orderkey == orders.o_orderkey)
            .select(
                (2 * F.col("o_custkey")).alias("src"),
                (2 * F.col("l_partkey") + 1).alias("dst"),
            )
            .distinct()
            .write.mode("append")
            .parquet(f"{scratch}/state_edges")
        )

    def finish(scratch: str) -> DataFrame:
        e0 = spark.read.parquet(f"{scratch}/state_edges").distinct()
        pr = pagerank_fixed_point(_symmetrize(e0), _PR_ITERATIONS)
        return _decode_nodes(pr, "rank_scaled", "deg")

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return replay(spark, li, "l_orderkey", per_batch, finish)


# --------------------------------------------------------------------------
# Community detection: deterministic label propagation over the same
# co-purchase graph — the third graph algorithm (ranking: PageRank;
# traversal: BFS; clustering: LPA; plus connected components in the
# dedup family).
# --------------------------------------------------------------------------
_LPA_ROUNDS = 4


@register_local(
    "label_propagation_communities",
    oracle=f"""
    SELECT {_DECODE_NODES_SQL},
           label AS community
    FROM ({label_propagation_oracle_sql(_PR_EDGES_CTE, _LPA_ROUNDS)})
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four deterministic LPA rounds (most-frequent neighbor label with a
    self-vote, smallest-label tie-break — operators/graph.py); the
    oracle replays the identical trajectory as unrolled CTE rounds.  At
    100 TB each round is one edge-keyed shuffle + two aggregates; labels
    are node ids so state stays two longs per node."""
    out = label_propagation(_copurchase_edges(spark, sf_dir), _LPA_ROUNDS)
    return _decode_nodes(out, F.col("label").alias("community"))


# --------------------------------------------------------------------------
# Bipartite motif counting: butterflies (2x2 bicliques) — THE clustering
# primitive for bipartite graphs, where triangles cannot exist.
# --------------------------------------------------------------------------
@register_local(
    "bipartite_butterfly_stats",
    oracle="""
    WITH op AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), w AS (
      SELECT a.c AS c1, b.c AS c2, count(*) AS shared
      FROM op a JOIN op b ON a.p = b.p AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT count(*) AS n_copurchase_pairs,
           CAST(sum(shared) AS BIGINT) AS n_wedges,
           CAST(sum(shared * (shared - 1) // 2) AS BIGINT) AS n_butterflies,
           max(shared) AS max_shared_parts
    FROM w
    """,
)
def bipartite_butterfly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge-then-count butterfly counting (Wang et al.'s exact
    formulation): customer pairs sharing a part come from ONE part-keyed
    self-join of the deduped (customer, part) incidence list — wedge
    space is Σ_p C(deg(p), 2), bounded by part degrees, never
    customers² — and each pair with `shared` common parts closes
    C(shared, 2) butterflies, summed in integers.  At 100 TB the
    degree-skew cut (drop hub parts above a df threshold before the
    self-join, exactly the stop-shingle rule the Jaccard dedup chain
    uses) bounds the wedge blow-up; the fixture's part degrees are
    single-digit so no cut is applied here."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    op = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        # r13 (guide §3.3 plan truncation): the wedge self-join's two
        # sides each recomputed the join+distinct incidence pipeline
        # (runtime exchange reuse did not dedup them — same finding as
        # the r13 report-query checkpoints). Materialize the 16-byte
        # (c, p) incidence list once inside the timed region. Measured
        # at sf0.1 (4-round alternating A/B, result-identical):
        # 2.37 s → 1.68 s.
        .localCheckpoint(eager=False)
    )
    w = wedge_pairs(op)
    return w.agg(
        F.count(F.lit(1)).alias("n_copurchase_pairs"),
        F.sum("shared").alias("n_wedges"),
        F.sum(F.expr("shared * (shared - 1) div 2")).alias("n_butterflies"),
        F.max("shared").alias("max_shared_parts"),
    )


# --------------------------------------------------------------------------
# SymSpell k = 2: the parameterized tier — a feed corrupted at TWO
# distinct key-dependent positions ('X' then 'Y', both absent from
# fixture names), matched with depth-2 deletion-neighborhood blocking.
# p2 = p1 + d mod len with d ∈ 1..len-1, so the positions are distinct
# STRUCTURALLY — for any name length ≥ 2, not just the fixture's 18
# (review fix: the previous +7 offset collided when len | 7).
# --------------------------------------------------------------------------
_D2_P1 = "(1 + (c_custkey % length(c_name)))"
_D2_STEP = "(1 + (c_custkey % (length(c_name) - 1)))"
_D2_P2 = f"(1 + (({_D2_P1} - 1 + {_D2_STEP}) % length(c_name)))"


def _overlay_sql(src: str, ch: str, pos: str) -> str:
    return (
        f"substr({src}, 1, {pos} - 1) || '{ch}' || substr({src}, {pos} + 1)"
    )


_D2_NAME_SQL = _overlay_sql(
    f"({_overlay_sql('c_name', 'X', _D2_P1)})", "Y", _D2_P2
)


@register_local(
    "symspell_fuzzy_join_dist2",
    oracle=f"""
    WITH clean AS (
      SELECT c_custkey AS id, c_name AS name FROM customer
    ), dirty AS (
      SELECT c_custkey AS id, {_D2_NAME_SQL} AS name FROM customer
    ), ck AS ({oracle_deletion_keys_depth2_cte('clean')}
    ), dk AS ({oracle_deletion_keys_depth2_cte('dirty')}
    ), cand AS (
      SELECT DISTINCT ck.id AS clean_id, ck.name AS clean_name,
                      dk.id AS dirty_id, dk.name AS dirty_name
      FROM ck JOIN dk ON ck.key = dk.key
    )
    SELECT clean_id, clean_name, dirty_id, dirty_name,
           CAST(levenshtein(clean_name, dirty_name) AS INTEGER) AS edit_distance
    FROM cand
    WHERE levenshtein(clean_name, dirty_name) <= 2
    """,
)
def symspell_fuzzy_join_dist2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k = 2 tier of the SymSpell join: depth-2 deletion
    neighborhoods (1 + len + C(len,2) keys per row — ~172 for the
    fixture names) through ONE hash equi-join, Levenshtein per
    CANDIDATE.  Every dirty row is exactly distance 2 from its source
    (two distinct positions overwritten with characters absent from the
    alphabet), so planted recall is total — asserted with the
    brute-force differential in tests/test_linkage.py.  Key volume grows
    quadratically with string length (the honest k = 2 price), but the
    join stays candidate-bounded — never all-pairs."""
    from ..operators.symspell import fuzzy_join_dist2

    customer = load_table(spark, sf_dir, "customer")
    clean = customer.select(
        F.col("c_custkey").alias("clean_id"), F.col("c_name").alias("clean_name")
    )
    # Spark SQL accepts the identical substr/|| text the oracle uses
    dirty = customer.select(
        F.col("c_custkey").alias("dirty_id"),
        F.expr(_D2_NAME_SQL).alias("dirty_name"),
    )
    return fuzzy_join_dist2(
        clean, dirty, "clean_id", "clean_name", "dirty_id", "dirty_name"
    )


@register_local(
    "streaming_fuzzy_link_parity",
    oracle=f"""
    WITH clean AS (
      SELECT c_custkey AS id, c_name AS name FROM customer
    ), dirty AS (
      SELECT c_custkey AS id, {_DIRTY_NAME_SQL} AS name FROM customer
    ), ck AS ({oracle_deletion_keys_cte('clean')}
    ), dk AS ({oracle_deletion_keys_cte('dirty')}
    ), cand AS (
      SELECT DISTINCT ck.id AS clean_id, ck.name AS clean_name,
                      dk.id AS dirty_id, dk.name AS dirty_name
      FROM ck JOIN dk ON ck.key = dk.key
    )
    SELECT clean_id, clean_name, dirty_id, dirty_name,
           CAST(levenshtein(clean_name, dirty_name) AS INTEGER) AS edit_distance
    FROM cand
    WHERE levenshtein(clean_name, dirty_name) <= 1
    """,
)
def streaming_fuzzy_link_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution on the LIVE feed path — the fifteenth streaming
    parity: the CLEAN registry's deletion-key index is built once and
    sits at rest; each micro-batch of the dirty feed expands only ITS
    delta into deletion keys, probes the at-rest index (the
    BM25/IVF-index-maintenance shape applied to record linkage), and
    appends its verified matches.  The union of per-batch match deltas
    must equal the batch fuzzy join bitwise — which the SAME oracle as
    `symspell_fuzzy_join_dist1` checks.  Per-tick work is
    delta·(len+1) keys; the clean index is touched only by hash-join
    probes, never rebuilt."""
    from ..operators.symspell import deletion_keys
    from ..streaming.ingest import replay

    clean, dirty = _clean_and_dirty(spark, sf_dir)
    # the at-rest index: clean-side deletion keys, built ONCE
    clean_keys = (
        deletion_keys(clean, "clean_id", "clean_name")
        .withColumnsRenamed({"_id": "_cid", "_name": "_cname"})
        .localCheckpoint()
    )

    def per_batch(scratch: str, batch_df: DataFrame, batch_id: int) -> None:
        dk = deletion_keys(batch_df, "dirty_id", "dirty_name").withColumnsRenamed(
            {"_id": "_did", "_name": "_dname"}
        )
        (
            dk.join(clean_keys, "_key")
            .select("_cid", "_cname", "_did", "_dname")
            .distinct()
            .withColumn("edit_distance", F.levenshtein("_cname", "_dname").cast("int"))
            .filter(F.col("edit_distance") <= 1)
            .write.mode("append")
            .parquet(f"{scratch}/state_matches")
        )

    def finish(scratch: str) -> DataFrame:
        # distinct() guards foreachBatch's at-least-once semantics: a
        # retried batch re-appends its matches, and the set-merge at
        # rest must fold them (same guard as the edges parity)
        return (
            spark.read.parquet(f"{scratch}/state_matches")
            .distinct()
            .select(
                F.col("_cid").alias("clean_id"),
                F.col("_cname").alias("clean_name"),
                F.col("_did").alias("dirty_id"),
                F.col("_dname").alias("dirty_name"),
                "edit_distance",
            )
        )

    # the dirty FEED arrives as a stream, range-split by id into
    # three micro-batches
    return replay(spark, dirty, "dirty_id", per_batch, finish)
