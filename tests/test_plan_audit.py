"""Red-flag gate over every registered query's physical plan.

The r02 lesson: the one query that shipped with a quadratic plan was the
one without an audited plan. This test builds every name in both registry
tiers (streaming harnesses aside) and audits the plan of the frame each
constructor returns AND the plan of every SQL execution the constructor
ran while it was built (eager checkpoints, trainer rounds, collected
scalars — `plans/audit.py::record_build`). It fails on:

- any CartesianProduct
- any BroadcastNestedLoopJoin not on the documented tiny-cross allowlist
- any row-at-a-time Python UDF (BatchEvalPython) anywhere
- any Arrow/Python stage outside the documented mapInPandas allowlist
- exchange count above the audited ceiling

Most queries only plan; the ones on `_RUN_WHILE_BUILT` execute their
build-time jobs here for real (135-260 s for all builds at sf0.001 on
4 vCPU). The sf0.1 numbers live in PLANS.md via tools/plan_audit.py.
"""

from __future__ import annotations

import pytest

from .conftest import SF_DIR

# Non-streaming registered queries whose constructor runs at least one SQL
# execution while it is built (ROADMAP item 1: constructors build plans,
# they do not run jobs). Shrink only: a new entry is a new job at build
# time. Schema-inference RDD jobs are not SQL executions and not counted.
_RUN_WHILE_BUILT = {
    "ann_recall_eval", "audio_fingerprint_near_dup", "bfs_shortest_hops",
    "bipartite_butterfly_stats", "bm25_retrieval_topk", "bpe_apply_encode",
    "bpe_learn_merges", "bucketed_join_orders_lineitem", "cluster_keep_best",
    "compacted_scan_pricing", "copurchase_association_rules",
    "corpus_stats_card", "correlation_matrix", "csv_roundtrip_parity",
    "dashboard_render_bundle", "dedup_clusters_ngram",
    "dedup_incremental_minhash", "dedup_minhash_lsh", "dedup_minhash_verified",
    "dedup_multi_signal", "dsir_importance_weights",
    "embedding_bruteforce_topk", "embedding_dedup_clusters",
    "embedding_filtered_topk", "embedding_kmeans_train",
    "embedding_near_dup_bruteforce", "embedding_pca_project",
    "embedding_pca_project_fixed", "embedding_power_iteration_fixed",
    "embedding_semantic_dedup", "graph_analytics_bundle",
    "grouping_sets_pricing", "hybrid_rrf_retrieval", "image_dhash_near_dup",
    "io_layout_bundle", "jsonl_roundtrip_parity",
    "label_propagation_communities", "lsh_dedup_recall_eval",
    "manifest_export_roundtrip", "orc_roundtrip_parity", "pagerank_copurchase",
    "perceptual_dedup_bundle", "perplexity_buckets_approx",
    "perplexity_quality_buckets", "quality_classifier_train",
    "salted_join_hot_events", "schema_evolution_read",
    "source_overlap_matrix", "sql_interface_revenue", "time_hierarchy_rollup",
    "token_shard_packing", "token_weighted_systematic_sample",
    "tokenizer_fertility_compare", "training_pipeline_e2e",
    "training_prep_bundle", "two_stage_agg_hot_keys", "unigram_lm_segment",
    "video_keyframe_near_dup", "zorder_compacted_scan",
}


def _audit(spark, name, fn):
    """(red flags, SQL executions run) for building `fn` under `name`."""
    from stock_market_big_data_project_spark.plans.audit import (
        plan_facts,
        record_build,
        red_flags,
    )

    df, executed = record_build(spark, fn, SF_DIR)
    flags = red_flags(name, plan_facts(df))
    for plan in executed:
        flags += red_flags(name, plan_facts(plan))
    return flags, len(executed)


@pytest.fixture(scope="module")
def audited(spark):
    """name -> (red flags, SQL executions run while built) for every
    non-streaming registered query; built once for the tests below."""
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        QUERIES,
        load_all_plans,
    )
    from stock_market_big_data_project_spark.plans.audit import STREAMING_HARNESS

    load_all_plans()
    return {
        name: _audit(spark, name, fn)
        for name, fn in sorted({**LOCAL_QUERIES, **QUERIES}.items())
        if name not in STREAMING_HARNESS
    }


def test_no_red_flag_plans(audited):
    assert len(audited) >= 50
    flags = [f for found, _ in audited.values() for f in found]
    assert not flags, "\n".join(flags)


def test_run_while_built_list_only_shrinks(audited):
    """ROADMAP item 1 step 2: the queries that submit SQL while they are
    built are exactly the checked-in list."""
    found = {name for name, (_, runs) in audited.items() if runs}
    assert found == _RUN_WHILE_BUILT, (
        f"new: {sorted(found - _RUN_WHILE_BUILT)}; "
        f"gone (drop from the list): {sorted(_RUN_WHILE_BUILT - found)}"
    )


def test_gate_audits_what_a_constructor_executes(spark):
    """A constructor that checkpoints a cross join and returns a clean
    scan is flagged on the cross join it ran."""

    def planted(spark, sf_dir):
        a = spark.range(64).withColumnRenamed("id", "a")
        a.crossJoin(spark.range(64).withColumnRenamed("id", "b")).localCheckpoint()
        return spark.range(8)

    flags, runs = _audit(spark, "planted_cross_join", planted)
    assert runs == 1
    assert flags and all("NestedLoopJoin" in f or "Cartesian" in f for f in flags), flags


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
    plans["fit_models"] = fit_models(series)
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
    ("relational.py", "schema_evolution_read"),
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


def test_one_copy_of_the_connected_components_oracle():
    """No string under plans/ spells out the recursive `reach` CTE: every
    connected-components oracle takes it from
    `operators/graph.py::connected_components_oracle_sql`."""
    import ast
    from pathlib import Path

    import stock_market_big_data_project_spark as pkg

    found = [
        f"{path.name}:{node.lineno}"
        for path in sorted((Path(pkg.__file__).parent / "plans").glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "reach AS (" in node.value
    ]
    assert not found, found


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


# Engine parameters that every call site sets to one value, kept on
# purpose. Shrink only: a new entry is an option no caller varies, which
# belongs in a named module constant instead.
_SINGLE_VALUED_KEPT = {
    ("functions/scalar.py", "neg_log10_guarded", "p"):
        "scalar Column function: the argument is its input column, not a setting",
    ("operators/cleaning.py", "hour_floor", "col"):
        "scalar Column function: the argument is its input column, not a setting",
    **{
        (f"operators/{mod}.py", fn, param):
            "DuckDB twin of a graph operator: plans/linkage.py owns the edge "
            "relation and the round count and passes the same constants to "
            "the Spark-side operator; the operator layer does not import plans"
        for mod, fn, params in (
            ("graph", "bfs_oracle_sql", ("edges_cte", "max_hops")),
            ("graph", "label_propagation_oracle_sql", ("edges_cte", "rounds")),
            ("pagerank", "pagerank_oracle_sql", ("edges_cte", "iterations")),
        )
        for param in params
    },
}


def _single_valued_params(root):
    """(engine file, function, parameter) for every parameter of an engine
    function whose call sites — in the engine, tests/, tools/, perfbench/,
    bench.py and __spark_entry__.py — all pass one value or leave the
    default.

    Calls are matched by name (a bare name prefers its own module's
    definition; ``obj.name(...)`` and ``functools.partial`` match every
    definition of that name, and a class call matches its ``__init__``).
    A value is a literal or an expression of module-level names; a
    parameter forwarded from the caller contributes the caller's values.
    Anything else — a local variable, a ``*args``/``**kwargs`` call, a
    decorated function or one passed around by name (type hints and
    same-named parameters aside) — counts as unknown, which keeps the
    parameter."""
    import ast
    from collections import defaultdict

    unknown = object()
    pkg = root / "stock_market_big_data_project_spark"
    paths = sorted(pkg.rglob("*.py"))
    for sub in ("tests", "tools", "perfbench"):
        paths += sorted((root / sub).glob("*.py"))
    paths += [root / "bench.py", root / "__spark_entry__.py"]

    class Fn:
        def __init__(self, node, path, method):
            a = node.args
            pos = a.posonlyargs + a.args
            self.node, self.path = node, path
            self.pos = [p.arg for p in pos][int(method):]
            self.params = self.pos + [p.arg for p in a.kwonlyargs]
            with_default = pos[len(pos) - len(a.defaults):]
            self.defaults = dict(zip([p.arg for p in with_default], a.defaults))
            self.defaults.update(
                {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
            )
            self.calls = {p: [] for p in self.params}  # (value, caller, path)

    trees, consts, names, enclosing = {}, {}, {}, {}
    defs, by_name, local = [], defaultdict(list), defaultdict(list)
    for path in paths:
        tree = trees[path] = ast.parse(path.read_text(), str(path))
        assigns = [n for n in tree.body if isinstance(n, (ast.Assign, ast.AnnAssign))]
        targets = [(t, n.value) for n in assigns
                   for t in (n.targets if isinstance(n, ast.Assign) else [n.target])]
        consts[path] = {t.id: ast.unparse(v) for t, v in targets
                        if isinstance(t, ast.Name) and isinstance(v, ast.Constant)}
        names[path] = {t.id for t, _ in targets if isinstance(t, ast.Name)} | {
            (a.asname or a.name).split(".")[0] for n in tree.body
            if isinstance(n, (ast.Import, ast.ImportFrom)) for a in n.names
        }

        def visit(node, cls, fn, path=path, in_pkg=pkg in path.parents):
            for ch in ast.iter_child_nodes(node):
                enclosing[id(ch)] = fn
                if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    decos = [getattr(d, "id", "") for d in ch.decorator_list]
                    f = Fn(ch, path, cls is not None and "staticmethod" not in decos)
                    if set(decos) - {"staticmethod", "property"}:
                        # registered or wrapped: called from elsewhere
                        for p in f.params:
                            f.calls[p].append((unknown, None, path))
                    if in_pkg:
                        defs.append(f)
                        keys = [ch.name] + ([cls] if ch.name == "__init__" and cls else [])
                        for key in keys:
                            by_name[key].append(f)
                            local[path, key].append(f)
                    visit(ch, None, f)
                else:
                    visit(ch, ch.name if isinstance(ch, ast.ClassDef) else None, fn)

        visit(tree, None, None)

    def callees(path, func):
        if isinstance(func, ast.Name):
            return local.get((path, func.id)) or by_name.get(func.id, [])
        return by_name.get(func.attr, []) if isinstance(func, ast.Attribute) else []

    called = set()
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            if getattr(func, "id", getattr(func, "attr", None)) == "partial" and args:
                func, args = args[0], args[1:]
            called.add(id(func))
            star = any(isinstance(a, ast.Starred) for a in args)
            dstar = any(k.arg is None for k in node.keywords)
            kw = {k.arg: k.value for k in node.keywords if k.arg}
            for f in callees(path, func):
                for p in f.params:
                    i = f.pos.index(p) if p in f.pos else len(args)
                    if p in kw:
                        f.calls[p].append((kw[p], enclosing.get(id(node)), path))
                    elif i < len(args) and not any(
                            isinstance(a, ast.Starred) for a in args[: i + 1]):
                        f.calls[p].append((args[i], enclosing.get(id(node)), path))
                    elif star or dstar or p not in f.defaults:
                        f.calls[p].append((unknown, None, path))
                    else:
                        f.calls[p].append((f.defaults[p], None, f.path))
    for path, tree in trees.items():  # passed around by name: callers unknown
        hints = {
            id(n)
            for node in ast.walk(tree)
            for ann in (getattr(node, "annotation", None), getattr(node, "returns", None))
            if ann is not None
            for n in ast.walk(ann)
        }
        for node in ast.walk(tree):
            caller = enclosing.get(id(node))
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and isinstance(node.ctx, ast.Load)
                and id(node) not in called
                and id(node) not in hints
                and not (isinstance(node, ast.Name) and caller and node.id in caller.params)
            ):
                for f in callees(path, node):
                    for p in f.params:
                        f.calls[p].append((unknown, None, path))

    def constant(v, path, caller):
        params = set(caller.params) if caller else set()
        return not any(
            isinstance(n, (ast.Call, ast.Lambda, ast.Subscript, ast.comprehension))
            or isinstance(n, ast.Name) and (n.id not in names[path] or n.id in params)
            for n in ast.walk(v)
        )

    memo = {}

    def values(f, p, stack=()):
        key = (id(f), p)
        if key in stack:
            return {unknown}
        if key not in memo:
            out = set()
            for v, caller, path in f.calls[p]:
                if v is unknown:
                    out.add(unknown)
                elif isinstance(v, ast.Name) and caller and v.id in caller.params:
                    out |= values(caller, v.id, stack + (key,))
                elif constant(v, path, caller):
                    out.add(consts[path].get(v.id, v.id) if isinstance(v, ast.Name)
                            else ast.unparse(v))
                else:
                    out.add(unknown)
            memo[key] = frozenset(out)
        return memo[key]

    return {
        (f.path.relative_to(pkg).as_posix(), f.node.name, p)
        for f in defs for p in f.params
        if len(values(f, p)) == 1 and unknown not in values(f, p)
    }


def test_no_parameter_every_caller_sets_to_one_value():
    """Ratchet: a parameter that every caller sets to the same value is an
    option nothing varies — it becomes a named module constant. The kept
    list names each exception with its reason and may only shrink."""
    from pathlib import Path

    found = _single_valued_params(Path(__file__).resolve().parents[1])
    kept = set(_SINGLE_VALUED_KEPT)
    assert found == kept, (
        f"new: {sorted(found - kept)}; gone (drop from the list): {sorted(kept - found)}"
    )
