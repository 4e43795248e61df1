"""Unit tests for the entity-resolution tier (plans/linkage.py) and the
relational-completeness pack (plans/subqueries.py): planted-recall and
brute-force differentials for the SymSpell join, a pure-Python integer
differential for PageRank, and pandas differentials for the indicator
bundle.  The bitwise DuckDB parity for each query lives in
test_oracle_parity.py; these cover the algorithmic claims the oracle
cannot (completeness of the blocking, partition invariance)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stock_market_big_data_project_spark.operators.pagerank import (
    SCALE,
    pagerank_fixed_point,
)
from stock_market_big_data_project_spark.operators.symspell import (
    fuzzy_join_dist1,
)
from stock_market_big_data_project_spark.plans.registry import get_query

from .conftest import SF_DIR


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


class TestSymspellJoin:
    def test_planted_recall_is_total(self, spark):
        """Every dirty row is exactly distance 1 from its source (the
        corruption overwrites with 'X', absent from all fixture names), so
        the self-pair (clean_id == dirty_id, distance 1) must appear for
        every customer — blocking that misses any of them is incomplete."""
        out = get_query("symspell_fuzzy_join_dist1")(spark, SF_DIR)
        n_customers = (
            spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
        )
        self_pairs = out.filter(F.col("clean_id") == F.col("dirty_id"))
        assert self_pairs.count() == n_customers
        assert (
            self_pairs.filter(F.col("edit_distance") != 1).count() == 0
        )

    def test_matches_bruteforce_on_sample(self, spark):
        """Deletion-neighborhood blocking is COMPLETE for distance <= 1:
        on a small slice, the blocked join returns exactly the pairs a
        quadratic scan finds."""
        left = spark.createDataFrame(
            [(i, n) for i, n in enumerate(
                ["market", "warket", "marke", "markets", "mbrket",
                 "totally_else", "markt", "market"]
            )],
            ["lid", "lname"],
        )
        right = spark.createDataFrame(
            [(100 + i, n) for i, n in enumerate(
                ["market", "narket", "arket", "remarket", "mark"]
            )],
            ["rid", "rname"],
        )
        got = {
            (r.lid, r.rid)
            for r in fuzzy_join_dist1(
                left, right, "lid", "lname", "rid", "rname"
            ).collect()
        }
        lrows = left.collect()
        rrows = right.collect()
        want = {
            (lr.lid, rr.rid)
            for lr in lrows
            for rr in rrows
            if _levenshtein(lr.lname, rr.rname) <= 1
        }
        assert got == want
        assert want  # the fixture must actually exercise matches

    def test_reported_distance_is_exact(self, spark):
        out = (
            get_query("symspell_fuzzy_join_dist1")(spark, SF_DIR)
            .limit(50)
            .collect()
        )
        assert out
        for r in out:
            assert r.edit_distance == _levenshtein(
                r.clean_name, r.dirty_name
            )


def _pagerank_pure_python(
    edges: list[tuple[int, int]], iterations: int
) -> dict[int, int]:
    """Independent integer PageRank: same arithmetic contract
    (trunc division, 85/100 damping, SCALE fixed point), dict-based."""
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    base = (15 * SCALE) // (100 * n)
    rank = {v: SCALE // n for v in deg}
    for _ in range(iterations):
        incoming: dict[int, int] = {}
        for s, d in edges:
            incoming[d] = incoming.get(d, 0) + rank[s] // deg[s]
        rank = {v: base + (85 * acc) // 100 for v, acc in incoming.items()}
    return rank


class TestPagerank:
    @pytest.fixture(scope="class")
    def small_edges(self):
        # a 3-cluster undirected graph with a hub, symmetrized
        raw = [
            (1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (5, 6), (6, 4),
            (4, 7), (7, 8), (8, 9), (9, 7), (1, 7),
        ]
        sym = sorted(set(raw) | {(b, a) for a, b in raw})
        return sym

    def test_matches_pure_python_exactly(self, spark, small_edges):
        df = spark.createDataFrame(small_edges, ["src", "dst"])
        got = {
            r.node: r.rank_scaled
            for r in pagerank_fixed_point(df, iterations=6).collect()
        }
        want = _pagerank_pure_python(small_edges, 6)
        assert got == want

    def test_partition_invariant(self, spark, small_edges):
        df = spark.createDataFrame(small_edges, ["src", "dst"])
        a = {
            r.node: r.rank_scaled
            for r in pagerank_fixed_point(df, iterations=4).collect()
        }
        b = {
            r.node: r.rank_scaled
            for r in pagerank_fixed_point(
                df.repartition(7, "dst"), iterations=4
            ).collect()
        }
        assert a == b

    def test_hub_outranks_leaf(self, spark, small_edges):
        df = spark.createDataFrame(small_edges, ["src", "dst"])
        got = {
            r.node: r.rank_scaled
            for r in pagerank_fixed_point(df, iterations=6).collect()
        }
        # node 1 and 4 bridge clusters (degree 4); node 2 is a leaf of
        # one triangle (degree 2)
        assert got[1] > got[2]
        assert got[4] > got[2]


class TestIndicators:
    @pytest.fixture(scope="class")
    def bundle(self, spark):
        return (
            get_query("technical_indicators_bundle")(spark, SF_DIR)
            .toPandas()
            .sort_values(["symbol", "hour_ts"])
        )

    def test_window_gating(self, bundle):
        """Indicator columns must be NULL exactly until their frame fills."""
        for sym, grp in bundle.groupby("symbol"):
            grp = grp.reset_index(drop=True)
            n = len(grp)
            if n >= 5:
                assert grp.sma5[: 4].isna().all()
                assert grp.sma5[4:].notna().all()
            if n >= 20:
                assert grp.sma20[: 19].isna().all()
                assert grp.sma20[19:].notna().all()
                assert grp.boll_upper[19:].notna().all()
            if n >= 15:
                assert grp.rsi14[: 14].isna().all()

    def test_matches_pandas_rolling(self, bundle):
        """Recompute from the close column with pandas on the same
        millipoint quantization — SMA and Bollinger must agree to 1e-9
        (identical integer sums, same double division)."""
        for sym, grp in bundle.groupby("symbol"):
            grp = grp.reset_index(drop=True)
            if len(grp) < 25:
                continue
            # half-AWAY-from-zero, matching Spark F.round / DuckDB round —
            # pandas .round() is half-to-even and would diverge on an exact
            # .5 millipoint (spurious differential failure, not engine
            # drift). sign*floor(|x|+0.5) rather than floor(x+0.5): the
            # latter is half-UP and would round -2.5 to -2 where the
            # engines give -3 (latent today only because fixture prices
            # are positive).
            x = grp.close.to_numpy() * 1000
            fp = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")
            fp = pd.Series(fp, index=grp.index)
            s20 = fp.rolling(20).sum()
            q20 = (fp * fp).rolling(20).sum()
            mean20 = s20 / 20000.0
            var = (q20 / 1e6 - (s20 / 1e3) ** 2 / 20.0) / 19.0
            upper = mean20 + 2.0 * var.clip(lower=0.0) ** 0.5
            got = grp.boll_upper[19:]
            want = upper[19:]
            assert (got - want).abs().max() < 1e-9
            sma5 = fp.rolling(5).sum() / 5000.0
            assert (grp.sma5[4:] - sma5[4:]).abs().max() < 1e-9

    def test_rsi_bounds(self, bundle):
        r = bundle.rsi14.dropna()
        assert ((r >= 0.0) & (r <= 100.0)).all()

    def test_bands_bracket_mean(self, bundle):
        g = bundle.dropna(subset=["sma20"])
        assert (g.boll_upper >= g.sma20 - 1e-12).all()
        assert (g.boll_lower <= g.sma20 + 1e-12).all()


class TestSubqueryPack:
    def test_semi_anti_partition_orders(self, spark):
        """The EXISTS and NOT EXISTS twins partition the order population:
        every order either has a >90-day-late lineitem or it doesn't."""
        prompt = (
            get_query("not_exists_prompt_orders")(spark, SF_DIR)
            .agg(F.sum("n_prompt_orders"))
            .collect()[0][0]
        )
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        late = (
            orders.join(
                li,
                (li.l_orderkey == orders.o_orderkey)
                & (
                    li.l_shipdate
                    > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")
                ),
                "left_semi",
            ).count()
        )
        assert prompt + late == orders.count()

    def test_large_volume_threshold(self, spark):
        out = get_query("large_volume_orders")(spark, SF_DIR)
        assert out.filter(F.col("sum_qty") <= 270.0).count() == 0
        assert out.count() > 0

    def test_min_cost_is_min(self, spark):
        out = get_query("min_cost_supplier_per_part")(spark, SF_DIR)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            "l_partkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("u"),
        )
        true_min = li.groupBy("l_partkey").agg(F.min("u").alias("tm"))
        bad = (
            out.join(true_min, out.p_partkey == true_min.l_partkey)
            .filter(F.col("min_unit_price") != F.col("tm"))
            .count()
        )
        assert bad == 0


def _bfs_pure_python(
    edges: list[tuple[int, int]], seed: int, max_hops: int
) -> dict[int, int]:
    """Independent BFS: breadth-first frontier expansion with a dict."""
    dist = {seed: 0}
    for h in range(1, max_hops + 1):
        for s, d in edges:
            if s in dist and dist[s] == h - 1 and d not in dist:
                dist[d] = h
    return dist


class TestBfs:
    def test_matches_pure_python(self, spark):
        raw = [
            (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 7), (7, 8),
            (8, 9), (9, 10), (2, 7),
        ]
        sym = sorted(set(raw) | {(b, a) for a, b in raw})
        from stock_market_big_data_project_spark.operators.graph import (
            bfs_hops,
        )

        df = spark.createDataFrame(sym, ["src", "dst"])
        got = {r.node: r.hops for r in bfs_hops(df, 3).collect()}
        want = _bfs_pure_python(sym, 1, 3)
        assert got == want
        # node 5 is 4 hops out — must NOT appear after 3 rounds
        assert 5 not in got and 4 in got

    def test_partition_invariant(self, spark):
        raw = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
        sym = sorted(set(raw) | {(b, a) for a, b in raw})
        from stock_market_big_data_project_spark.operators.graph import (
            bfs_hops,
        )

        df = spark.createDataFrame(sym, ["src", "dst"])
        a = {r.node: r.hops for r in bfs_hops(df, 4).collect()}
        b = {
            r.node: r.hops
            for r in bfs_hops(df.repartition(5, "dst"), 4).collect()
        }
        assert a == b


class TestSymspellProperty:
    def test_random_corpus_completeness(self, spark):
        """Property: on md5-seeded random short strings over a 3-letter
        alphabet (maximizing distance-1 collisions), the deletion-key
        blocked join returns EXACTLY the brute-force distance-<=1 pair
        set.  Deterministic corpus (no flaky seeds), adversarially small
        alphabet."""
        import hashlib

        def rand_word(i: int) -> str:
            h = hashlib.md5(f"w{i}".encode()).hexdigest()
            n = 3 + int(h[:2], 16) % 4  # length 3..6
            return "".join("abc"[int(c, 16) % 3] for c in h[2 : 2 + n])

        words = [(i, rand_word(i)) for i in range(60)]
        left = spark.createDataFrame(words, ["lid", "lname"])
        right = spark.createDataFrame(
            [(100 + i, w) for i, w in words], ["rid", "rname"]
        )
        got = {
            (r.lid, r.rid)
            for r in fuzzy_join_dist1(
                left, right, "lid", "lname", "rid", "rname"
            ).collect()
        }
        want = {
            (i, 100 + j)
            for i, a in words
            for j, b in words
            if _levenshtein(a, b) <= 1
        }
        assert got == want
        # the 3-letter alphabet must actually generate cross matches
        assert len(want) > len(words)


def _lpa_pure_python(
    edges: list[tuple[int, int]], rounds: int
) -> dict[int, int]:
    """Independent LPA: most-frequent neighbor label + self-vote,
    smallest-label tie-break."""
    nodes = sorted({s for s, _ in edges})
    label = {v: v for v in nodes}
    for _ in range(rounds):
        votes: dict[int, dict[int, int]] = {v: {} for v in nodes}
        for s, d in edges:
            votes[d][label[s]] = votes[d].get(label[s], 0) + 1
        for v in nodes:
            votes[v][label[v]] = votes[v].get(label[v], 0) + 1
        label = {
            v: min(
                (lb for lb, c in votes[v].items()
                 if c == max(votes[v].values()))
            )
            for v in nodes
        }
    return label


class TestLabelPropagation:
    def test_matches_pure_python(self, spark):
        # two dense triangles joined by one bridge edge — LPA should
        # find the two communities
        raw = [
            (1, 2), (2, 3), (3, 1),
            (10, 11), (11, 12), (12, 10),
            (3, 10),
        ]
        sym = sorted(set(raw) | {(b, a) for a, b in raw})
        from stock_market_big_data_project_spark.operators.graph import (
            label_propagation,
        )

        df = spark.createDataFrame(sym, ["src", "dst"])
        got = {
            r.node: r.label
            for r in label_propagation(df, rounds=4).collect()
        }
        want = _lpa_pure_python(sym, 4)
        assert got == want
        # the two triangles must converge to distinct internal labels
        assert got[1] == got[2] == got[3] or len({got[1], got[2], got[3]}) <= 2
        assert len({got[10], got[11], got[12]}) <= 2

    def test_partition_invariant(self, spark):
        raw = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4)]
        sym = sorted(set(raw) | {(b, a) for a, b in raw})
        from stock_market_big_data_project_spark.operators.graph import (
            label_propagation,
        )

        df = spark.createDataFrame(sym, ["src", "dst"])
        a = {r.node: r.label for r in label_propagation(df, 3).collect()}
        b = {
            r.node: r.label
            for r in label_propagation(df.repartition(5, "dst"), 3).collect()
        }
        assert a == b


class TestSymspellDist2:
    def test_planted_recall_dist2(self, spark):
        """Every doubly-corrupted row links back to its source at exact
        distance 2 (two distinct positions overwritten with
        out-of-alphabet characters)."""
        out = get_query("symspell_fuzzy_join_dist2")(spark, SF_DIR)
        n_customers = (
            spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
        )
        self_pairs = out.filter(F.col("clean_id") == F.col("dirty_id"))
        assert self_pairs.count() == n_customers
        assert (
            self_pairs.filter(F.col("edit_distance") != 2).count() == 0
        )

    def test_matches_bruteforce_random_corpus(self, spark):
        """Depth-2 blocking is COMPLETE for distance <= 2: on an
        md5-seeded 3-letter-alphabet corpus (maximizing 2-edit
        collisions), the blocked join equals the quadratic scan."""
        import hashlib

        from stock_market_big_data_project_spark.operators.symspell import (
            fuzzy_join_dist2,
        )

        def rand_word(i: int) -> str:
            h = hashlib.md5(f"d2w{i}".encode()).hexdigest()
            n = 4 + int(h[:2], 16) % 4  # length 4..7
            return "".join("abc"[int(c, 16) % 3] for c in h[2 : 2 + n])

        words = [(i, rand_word(i)) for i in range(50)]
        left = spark.createDataFrame(words, ["lid", "lname"])
        right = spark.createDataFrame(
            [(100 + i, w) for i, w in words], ["rid", "rname"]
        )
        got = {
            (r.lid, r.rid, r.edit_distance)
            for r in fuzzy_join_dist2(
                left, right, "lid", "lname", "rid", "rname"
            ).collect()
        }
        want = {
            (i, 100 + j, _levenshtein(a, b))
            for i, a in words
            for j, b in words
            if _levenshtein(a, b) <= 2
        }
        assert got == want
        assert any(d == 2 for _, _, d in want)  # distance-2 pairs exist


class TestGraphDegenerate:
    def test_pagerank_empty_graph(self, spark):
        df = spark.createDataFrame([], "src long, dst long")
        out = pagerank_fixed_point(df, iterations=3)
        assert out.count() == 0
        assert set(out.columns) == {"node", "rank_scaled", "deg"}

    def test_pagerank_rejects_dangling_sink(self, spark):
        # a raw DIRECTED graph with a sink (2 has no out-edge) violates
        # the outdegree>=1 contract — must fail loudly, not silently drop
        # the node and leak rank mass
        df = spark.createDataFrame([(1, 2), (3, 1)], ["src", "dst"])
        with pytest.raises(ValueError, match="outdegree"):
            pagerank_fixed_point(df, iterations=2)

    def test_pagerank_rejects_src_without_in_edges(self, spark):
        # every dst has out-edges here, but node 3 never receives mail —
        # it would silently vanish from the rank table after round 1 (on
        # both engines, since the oracle replays the same trajectory), so
        # the src-direction probe must fail loudly too
        df = spark.createDataFrame(
            [(1, 2), (2, 1), (3, 1)], ["src", "dst"]
        )
        with pytest.raises(ValueError, match="in-edges"):
            pagerank_fixed_point(df, iterations=2)

    def test_lpa_empty_graph(self, spark):
        from stock_market_big_data_project_spark.operators.graph import (
            label_propagation,
        )

        df = spark.createDataFrame([], "src long, dst long")
        assert label_propagation(df, rounds=2).count() == 0

    def test_pagerank_single_edge(self, spark):
        # two nodes, symmetric single edge: ranks must be equal and the
        # mass identity base + 85%*(rank//1) holds exactly
        df = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
        got = {
            r.node: r.rank_scaled
            for r in pagerank_fixed_point(df, iterations=5).collect()
        }
        assert got[1] == got[2]
        want = _pagerank_pure_python([(1, 2), (2, 1)], 5)
        assert got == want

    def test_bfs_self_loop_only(self, spark):
        from stock_market_big_data_project_spark.operators.graph import (
            bfs_hops,
        )

        df = spark.createDataFrame([(7, 7)], ["src", "dst"])
        got = {r.node: r.hops for r in bfs_hops(df, 3).collect()}
        assert got == {7: 0}

    def test_bfs_empty_graph(self, spark):
        from stock_market_big_data_project_spark.operators.graph import (
            bfs_hops,
        )

        out = bfs_hops(spark.createDataFrame([], "src long, dst long"), 3)
        assert out.collect() == []
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
            ("node", "bigint"), ("hops", "int"),
        ]


# A path 0 - 1 - ... - 54: min-label propagation needs 54 rounds to carry
# label 0 to the far end and one more to see nothing change.
_PATH_NODES = 55


@pytest.fixture(scope="module")
def cc_path(spark):
    """`connected_components` on the path, built through `record_build`:
    (frame, plans of the SQL executions run while it was built)."""
    from stock_market_big_data_project_spark.operators.graph import (
        connected_components,
    )
    from stock_market_big_data_project_spark.plans.audit import record_build

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(_PATH_NODES - 1)], "id_a long, id_b long"
    )
    return record_build(spark, lambda s, _: connected_components(pairs), "")


class TestConnectedComponents:
    def test_long_path_is_one_component(self, cc_path):
        got = {r.node: r.component for r in cc_path[0].collect()}
        assert got == {i: 0 for i in range(_PATH_NODES)}

    def test_one_execution_per_round(self, cc_path):
        # the edges checkpoint, then one eager checkpoint per round that
        # also counts the changed labels: no separate convergence job
        assert len(cc_path[1]) == 1 + _PATH_NODES

    def test_empty_pairs(self, spark):
        from stock_market_big_data_project_spark.operators.graph import (
            connected_components,
        )

        out = connected_components(
            spark.createDataFrame([], "id_a long, id_b long")
        )
        assert out.collect() == []
        assert out.columns == ["node", "component"]
