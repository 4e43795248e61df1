"""Red-flag gate over every registered query's physical plan.

The r02 lesson: the one query that shipped with a quadratic plan was the
one without an audited plan. This test builds the plan (no execution) for
every name in both registry tiers and fails on:

- any CartesianProduct
- any BroadcastNestedLoopJoin not on the documented tiny-cross allowlist
- any row-at-a-time Python UDF (BatchEvalPython) anywhere
- any Arrow/Python stage outside the documented mapInPandas allowlist
- exchange count above the audited ceiling

Plan build only — a few seconds per query at the test scale factor; the
sf0.1 numbers live in PLANS.md via tools/plan_audit.py.
"""

from __future__ import annotations

from .conftest import SF_DIR


def test_no_red_flag_plans(spark):
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        QUERIES,
        load_all_plans,
    )
    from stock_market_big_data_project_spark.plans.audit import (
        EAGER_ITERATIVE,
        STREAMING_HARNESS,
        plan_facts,
        red_flags,
    )

    load_all_plans()
    all_queries = {**LOCAL_QUERIES, **QUERIES}
    flags: list[str] = []
    audited = 0
    for name, fn in sorted(all_queries.items()):
        if name in STREAMING_HARNESS:
            continue
        # eager clustering queries: audit the pre-checkpoint constituent —
        # the registered callable would EXECUTE connected components and
        # return an opaque checkpoint scan (vacuously clean plan)
        fn = EAGER_ITERATIVE.get(name, fn)
        facts = plan_facts(fn(spark, SF_DIR))
        flags += red_flags(name, facts)
        audited += 1
    assert audited >= 50
    assert not flags, "\n".join(flags)


def test_per_symbol_analysis_is_pack_then_map_in_pandas(spark):
    """Granger, the forecaster and the model sink share one Python
    pattern: packed series through MapInPandas, never a grouped-map
    (FlatMapGroupsInPandas) stage that builds a pandas frame per group."""
    from pyspark.sql import functions as F

    from stock_market_big_data_project_spark.operators.stats import fit_models
    from stock_market_big_data_project_spark.plans import get_query
    from stock_market_big_data_project_spark.plans.audit import plan_facts
    from stock_market_big_data_project_spark.sources.tables import load_table

    plans = {
        name: get_query(name)(spark, SF_DIR)
        for name in ("granger_causality", "recursive_forecast")
    }
    series = load_table(spark, SF_DIR, "events").select(
        F.col("user_id").alias("symbol"), "ts", "value"
    )
    plans["fit_models"] = fit_models(series, "symbol", "ts", "value")
    for name, df in plans.items():
        facts = plan_facts(df)
        assert facts["map_in_pandas"] >= 1, name
        assert facts["grouped_map_in_pandas"] == 0, name


# Top-level definitions that may still drive a stream or make a scratch
# dir themselves. Shrink only: a new entry means a hand-rolled harness
# where `streaming/ingest.py::replay` belongs.
_OWN_SCRATCH_OR_STREAM = {
    # memory-sink parities: their state lives in the streaming query
    ("market.py", "streaming_batch_parity"),
    ("market.py", "streaming_stateful_ffill_parity"),
    ("training.py", "streaming_clean_corpus_parity"),
    # feed-tick queries: a Python data source into a streaming sink
    ("market.py", "streaming_pysource_ticks_parity"),
    ("market.py", "streaming_manifest_export_parity"),
    # write-then-read batch sites
    ("market.py", "manifest_export_roundtrip"),
    ("relational.py", "compacted_scan_pricing"),
    ("relational.py", "zorder_compacted_scan"),
    ("relational.py", "_zorder_scan_plan"),
    ("relational.py", "schema_evolution_read"),
    ("relational.py", "_schema_evolution_plan"),
}


def test_streaming_replays_go_through_one_helper():
    """No plan module (nor the image-dedup stream) calls foreachBatch,
    writeStream or tempfile.mkdtemp outside the allow-list: every
    foreachBatch parity replays through `ingest.replay`."""
    import ast
    from pathlib import Path

    import stock_market_big_data_project_spark as pkg

    root = Path(pkg.__file__).parent
    files = sorted((root / "plans").glob("*.py")) + [
        root / "streaming" / "image_dedup.py"
    ]
    found = set()
    for path in files:
        for node in ast.parse(path.read_text()).body:
            if any(
                isinstance(n, ast.Attribute)
                and n.attr in ("foreachBatch", "writeStream", "mkdtemp")
                for n in ast.walk(node)
            ):
                found.add((path.name, getattr(node, "name", None)))
    assert found == _OWN_SCRATCH_OR_STREAM, (
        f"new: {sorted(found - _OWN_SCRATCH_OR_STREAM)}; "
        f"gone (drop from the list): {sorted(_OWN_SCRATCH_OR_STREAM - found)}"
    )


def test_streaming_harness_list_is_current(spark):
    """Every registered query skipped by the audit must actually be a
    streaming-harness query (guards against the skip list rotting into a
    blanket exemption)."""
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        QUERIES,
        load_all_plans,
    )
    from stock_market_big_data_project_spark.plans.audit import STREAMING_HARNESS

    load_all_plans()
    assert STREAMING_HARNESS <= set(QUERIES) | set(LOCAL_QUERIES)
    for name in STREAMING_HARNESS:
        assert "streaming" in name


def test_eager_iterative_list_is_current(spark):
    """Every name whose audit is redirected to a pre-checkpoint
    constituent must be a registered iterative query (connected-components
    clustering or the BPE trainer), and its constituent must build a
    non-trivial plan (a join/shuffle — i.e. NOT a checkpoint scan)."""
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        QUERIES,
        load_all_plans,
    )
    from stock_market_big_data_project_spark.plans.audit import (
        EAGER_ITERATIVE,
        plan_facts,
    )

    load_all_plans()
    registered = {**LOCAL_QUERIES, **QUERIES}
    assert set(EAGER_ITERATIVE) <= set(registered)
    iterative_trainers = {
        "bpe_learn_merges",
        "bpe_apply_encode",  # trainer-then-apply: the merge list is the
        # trainer's collected output, shipped into the encode plan
        "embedding_kmeans_train",
        "quality_classifier_train",
        "unigram_lm_segment",  # trainer-then-apply: EM-fitted piece LM,
        # segmentation audited via the fixed-LM constituent
        "zorder_compacted_scan",  # write-then-read: the registered query
        # checkpoints + cleans its temp rewrite (r8 leak fix); the
        # constituent re-stages it so the pruned scan stays audited
        "schema_evolution_read",  # same write-then-read shape
        "embedding_power_iteration_fixed",  # fixed-point eigensolve:
        # the registered callable collects the dim²-bounded covariance
        # and iterates driver-side; audited via the covariance-aggregate
        # constituent it collects
        "embedding_pca_project_fixed",  # r12 deflation extension: same
        # collected-covariance shape, plus a lazy projection plan that
        # IS the registered callable's return (audited directly); the
        # constituent re-audits the collected covariance aggregate
        "pagerank_copurchase",  # Pregel power iteration: per-round
        # equi-joins over the audited symmetrized-edges constituent
        "bfs_shortest_hops",  # Pregel traversal over the same audited
        # edges constituent
        "label_propagation_communities",  # Pregel community detection
        # over the same audited edges constituent
        "graph_analytics_bundle",  # r10 family bundle: its three
        # iterative legs execute at build time (each audited via the
        # shared symmetrized-edges constituent on its standalone
        # registration); the bundle's constituent is its LAZY butterfly
        # leg's composed union (ADVICE r10)
        "training_prep_bundle",  # r10 family bundle: the BPE/k-means
        # trainer legs execute at build time (each audited via its own
        # constituent above); the bundle's constituent is the union of
        # its three LAZY legs
    }
    for name, builder in EAGER_ITERATIVE.items():
        assert (
            "cluster" in name
            or "verified" in name
            or "dedup" in name  # CC-based dedup (e.g. SemDeDup)
            or name in iterative_trainers
        ), name
        facts = plan_facts(builder(spark, SF_DIR))
        assert facts["exchanges"] > 0, (name, "constituent plan is trivial")
