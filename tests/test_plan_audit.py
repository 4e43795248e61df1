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
