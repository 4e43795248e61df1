"""Physical-plan fact extraction — shared by `tools/plan_audit.py` (which
regenerates PLANS.md at sf0.1) and `tests/test_plan_audit.py` (the red-flag
gate that fails the suite when any registered query plans a cartesian
product, an unexpected Python stage, or an exchange blow-up).

The round-2 lesson this encodes: the one query that shipped with a
quadratic plan (44 s `embedding_near_dup_pairs`) was exactly the one with
no audited plan. Every name in the registry gets a section and a gate now,
and the gate sees every plan a constructor runs: `record_build` returns
the plans of the SQL executions submitted while the query was built
(eager checkpoints, trainer rounds, collected scalars) beside the frame it
returns, so a constructor that executes its heavy work and hands back a
checkpoint scan is audited on the work itself.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .registry import QueryFn

# Queries whose *registered callable* executes a streaming job at build
# time and returns its materialized result (memory-sink rows, or the
# checkpointed read-back of `streaming/ingest.py::replay`): their physical
# plan is a trivial scan, and building them costs a full stream replay —
# audited via their batch twins + tests/test_streaming.py instead.
STREAMING_HARNESS = {
    "streaming_batch_parity",
    "streaming_stateful_ffill_parity",
    "streaming_clean_corpus_parity",
    "streaming_near_dup_parity",
    "streaming_semdedup_parity",
    "streaming_stats_card_parity",
    "streaming_pysource_ticks_parity",
    "streaming_manifest_export_parity",
    "streaming_bm25_index_parity",
    "streaming_countmin_parity",
    "streaming_covariance_parity",
    "streaming_ivf_index_parity",
    "streaming_image_dhash_parity",
    "streaming_indicators_parity",
    "streaming_pagerank_edges_parity",
    "streaming_scd2_parity",
    "streaming_fuzzy_link_parity",
    "streaming_time_rollup_parity",
    "streaming_hopping_volume_parity",
    "streaming_cohort_retention_parity",
}

# Queries whose plan legitimately contains Arrow/Python stages: every one
# is an Arrow-batched mapInPandas/applyInPandas where no JVM primitive
# expresses the semantics (vector matmul prescreens, per-symbol OLS/GBT,
# stateful carry, codec plumbing). Per-row Python UDFs are NEVER on this
# list — a PythonUDF node in any other query is a red flag.
PYTHON_STAGE_OK = {
    "embedding_bruteforce_topk",     # matmul candidate prescreen
    "embedding_filtered_topk",       # the same prescreen over the
                                     # metadata-filtered corpus
    "embedding_near_dup_bruteforce", # matmul candidate prescreen
    "embedding_near_dup_pairs",      # band keys via BLAS matmul
    "embedding_dedup_clusters",      # same band-key matmul, in the
                                     # build-time pairs execution
    "granger_causality",             # per-symbol OLS over packed series
    "granger_structure",             # projection of the same Granger stage
    "recursive_forecast",            # per-symbol trainer/forecaster
    "forecast_structure",            # hash-checked projection of the same
                                     # forecaster Arrow stage
    "multimodal_pipeline_dispatch",  # fused mime-dispatch decode→
                                     # downsample→segment UDTF (r12:
                                     # real BMP/PNG/WAV/y4m decoders)
    "multimodal_decode_dispatch",    # mime-dispatch decode stage
    "multimodal_resize_dispatch",    # mime-dispatch decode+downsample
    "multimodal_segment_sample",     # mime-dispatch 1→k segment UDTF
    "multimodal_byte_histogram",     # vectorized bincount features
    "multimodal_bmp_decode",         # REAL BMP encode + decode/resize
                                     # codec stages (narrow Arrow passes)
    "multimodal_png_decode",         # REAL PNG encode + decode/resize
                                     # codec stages (narrow Arrow passes)
    "multimodal_jpeg_decode",        # REAL baseline-JPEG encode +
                                     # decode/fingerprint codec stages
    "image_dhash_near_dup",          # PNG encode + fused decode→dHash
                                     # stages feeding the banded join
    "multimodal_wav_features",       # REAL WAV encode + decode/featurize
                                     # codec stages (narrow Arrow passes)
    "audio_fingerprint_near_dup",    # WAV encode + fused decode→envelope-
                                     # fingerprint stages feeding the join
    "multimodal_video_frames",       # REAL y4m encode + parse/frame-sample
                                     # codec stages (narrow Arrow passes)
    "video_keyframe_near_dup",       # y4m encode + fused parse→dHash
                                     # stages feeding the banded join
    "token_shard_packing",           # per-range-partition Arrow cumsum
    "embedding_pq_codes",            # vectorized PQ encode (decimal-exact
                                     # fallback for guard-band rows)
    "embedding_pq_adc_topk",         # same encode inside the ADC search
    "embedding_ivfpq_topk",          # same encode + Arrow IVF assignment
    "embedding_ivf_cells",           # Arrow IVF assignment fast path
    "embedding_ivf_topk",            # same assignment on the corpus side
    "embedding_semantic_dedup",      # Arrow IVF assignment feeding the
                                     # within-cell SemDeDup pair join
    "sequence_packing_ffd",          # per-shard FFD bin packing (a loop
                                     # over bins — no relational form)
    "token_weighted_systematic_sample",  # prefix_sum's interior-cumsum
                                         # Arrow pass
    "ann_recall_eval",               # cosine_topk/ivf matmul prescreens
                                     # inside the recall evaluation
    "quality_classifier_train",      # Arrow matmul gradient pass (weights
                                     # in closure — avoids per-iteration
                                     # codegen recompile)
    "dedup_multi_signal",            # the SemDeDup side's Arrow IVF
                                     # assignment, in the build-time
                                     # pairs execution
    "hybrid_rrf_retrieval",          # cosine_topk's matmul candidate
                                     # prescreen inside the semantic leg
    "embedding_pca_project",         # Arrow matmul projection (components
                                     # in closure; the covariance feeding
                                     # the eigensolve is its own audited
                                     # query)
    "unigram_lm_segment",            # Arrow per-word lattice DP (EM
                                     # E-step + Viterbi segmentation;
                                     # pieces vocab-bounded in closure)
    "training_pipeline_e2e",         # prefix_sum's interior-cumsum Arrow
                                     # pass inside the sampling stage
    "tokenizer_fertility_compare",   # the unigram Viterbi segmentation
                                     # Arrow pass over the distinct-word
                                     # table (vocab-bounded)
    # r10 family bundles: each is a UNION of its legs' already-audited
    # plans, so the Python stages are exactly the legs' audited codec /
    # packing Arrow stages — no new Python surface
    "multimodal_decode_bundle",      # the five codecs' audited Arrow
                                     # encode/decode stages, unioned
    "perceptual_dedup_bundle",       # the image/video/audio perceptual
                                     # legs' audited codec+dHash stages
    "training_prep_bundle",          # sequence_packing_ffd's audited
                                     # per-shard FFD Arrow pass
}

# Queries that deliberately cross-join a ≤1-row (or few-row) broadcast
# bound/dimension — Spark plans those as BroadcastNestedLoopJoin; with a
# single-row build side that is O(n), not O(n²).
TINY_CROSS_OK = {
    "dedup_ngram_jaccard",        # corpus-size scalar for the stop-shingle cut
    "dedup_minhash_verified",     # same cut inside the verified chain
    "temporal_split_80_20",       # per-key split threshold scalar
    "returns_histogram",          # global min/max bin bounds scalar
    "resample_ffill_hourly",      # global grid bounds scalar
    "trend_column_matcher",       # metadata theta-join: column catalog ×
                                  # symbol list, both driver-size, never
                                  # the fact table
    "tfidf_search_topk",          # 1-row corpus-count scalar for the idf
    "dsir_importance_weights",    # 1-row feature-total scalar for the LM
                                  # ratio denominator
    "token_weighted_systematic_sample",  # 1-row total-tokens scalar for
                                         # the pick-point spacing
    "corpus_stats_card",          # the near-dup constituent's 1-row
                                  # corpus-count scalar (same cut as
                                  # dedup_ngram_jaccard)
    "ts_motif_search",            # 1-row query-window broadcast
    "dedup_multi_signal",         # the text side's 1-row corpus-count
                                  # scalar (same cut as
                                  # dedup_ngram_jaccard)
    "bm25_retrieval_topk",        # 1-row (N, Σdl) scalar for idf/avgdl
    "perplexity_quality_buckets", # 1-row en-token-total scalar for the
                                  # LM denominator + the 1-row exact
                                  # percentile-cutoff broadcast
    "perplexity_buckets_approx",  # the same two scalars + the 1-row
                                  # percentile_approx sketch cutoffs
    "lsh_dedup_recall_eval",      # the truth side's 1-row corpus-count
                                  # scalar (same cut as
                                  # dedup_ngram_jaccard) + the 1-row
                                  # n_truth broadcast onto the per-config
                                  # rollup
    "hybrid_rrf_retrieval",       # the BM25 leg's 1-row (N, Σdl) scalar
    "ks_drift_matrix",            # source-pair theta-join: distinct
                                  # sources × distinct sources (a < b),
                                  # both driver-size — the
                                  # trend_column_matcher shape
    "training_pipeline_e2e",      # the sampling stage's 1-row
                                  # total-tokens scalar (same as
                                  # token_weighted_systematic_sample)
    "dashboard_render_bundle",    # the prev-day macro section's two
                                  # 1-row aggregates cross-join (O(1))
    "dormant_high_balance_customers",  # 1-row global-average-balance
                                       # scalar (the Q22 scalar subquery
                                       # decorrelated to a broadcast cross)
    "copurchase_association_rules",    # 1-row order-count scalar for the
                                       # lift denominator
    "data_quality_report",             # six 1-row × 1-row check-count
                                       # crosses (each O(1))
    "top_supplier_by_revenue",         # 1-row max-revenue scalar (the
                                       # Q15 HAVING-=-max decorrelation)
    "high_share_parts",                # 1-row global-revenue scalar (the
                                       # Q11 HAVING-vs-fraction-of-total
                                       # decorrelation)
    "subquery_pack_bundle",            # its dormant-customers + top-
                                       # supplier + high-share legs'
                                       # 1-row scalar crosses (audited
                                       # above)
    "warehouse_eventflow_bundle",      # data_quality_report's six 1-row
                                       # check-count crosses (audited
                                       # above)
}

# Exchange ceiling: the widest audited legitimate plan (the verified dedup
# chain: index + sizes + candidates + verify + CC iterations) sits at 14;
# anything above this is a restructuring smell, not a tuning knob.
MAX_EXCHANGES = 16

# Composed "report" queries that deliberately chain several
# individually-audited pipelines into ONE DAG get a documented per-query
# ceiling: their exchange count is the SUM of their audited constituents,
# not a restructuring smell in any single one.
WIDE_PLAN_OK = {
    # base rollup (2) + the ngram-Jaccard near-dup chain (≈ the audited
    # dedup_ngram_jaccard width) + the contamination shingle chain (≈ the
    # audited contamination_ngram_overlap width), joined per doc_id
    "corpus_stats_card": 40,
    # the audited text pair chain + the audited SemDeDup pair chain,
    # unioned (the build-time execution that labels the pair union; each
    # half is individually gated via dedup_ngram_jaccard /
    # embedding_semantic_dedup)
    "dedup_multi_signal": 24,
    # the audited exact-Jaccard truth chain + the audited MinHash banding
    # chain × 2 configs, joined once (each half is individually gated via
    # dedup_ngram_jaccard / dedup_minhash_lsh)
    "lsh_dedup_recall_eval": 24,
    # six independent expectation checks unioned into ONE report frame:
    # each check is a trivial 2-3-exchange aggregate (anti-join count /
    # uniqueness delta / pushed-filter count) plus its 1-row broadcast;
    # the union sums them. Per-check width is minimal by construction.
    "data_quality_report": 24,
    # r10 family bundles: a bundle's exchange count is the SUM of its
    # legs' audited widths (each leg is a registered query with its own
    # audited plan) — measured 24 / 37 / 44 at sf0.001, with headroom for
    # AQE join-strategy differences across SFs
    "perceptual_dedup_bundle": 32,
    # 80 measured with the twenty-shape pack (r11 added Q8/Q9/Q10/Q12/
    # Q13/Q14 + the Q16 NOT-IN variant — Q8 alone carries a six-join
    # broadcast chain); each leg is individually audited, the bundle's
    # width is their sum; headroom for AQE join-strategy differences
    # across SFs
    "subquery_pack_bundle": 96,
    "warehouse_eventflow_bundle": 56,
}


def record_build(
    spark: SparkSession, fn: QueryFn, sf_dir: str
) -> tuple[DataFrame, list[str]]:
    """Call a registered constructor and return its frame together with the
    physical plan of every SQL execution the call submitted, oldest first
    (collects, counts, eager checkpoints, writes). The plans come from the
    session's SQL status store, which is filled with the UI disabled too;
    RDD jobs such as schema inference are not SQL executions."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        return store.executionsList()

    seen = executions()
    last = seen.last().executionId() if seen.nonEmpty() else -1
    df = fn(spark, sf_dir)
    runs = executions()
    plans = []
    for i in reversed(range(runs.size())):
        run = runs.apply(i)
        if run.executionId() <= last:
            break
        plans.append(run.physicalPlanDescription())
    return df, plans[::-1]


def explain(df: DataFrame) -> str:
    """The FORMATTED explain of a DataFrame (no execution)."""
    mode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plan_facts(plan: DataFrame | str) -> dict:
    """Counted facts from the FORMATTED explain of a DataFrame, or from an
    execution's plan description as `record_build` returns it. An adaptive
    execution is audited on its `== Initial Plan ==`: the static plan that
    an unexecuted DataFrame shows, so every ceiling means the same for both."""
    txt = explain(plan) if isinstance(plan, DataFrame) else plan
    tree = txt.split("\n\n")[0]
    tree = tree.split("\n+- == Initial Plan ==\n")[-1]

    def n(pat: str) -> int:
        return len(re.findall(rf"\b{pat}\b", tree))

    return {
        "broadcast_hash_joins": n("BroadcastHashJoin"),
        "sort_merge_joins": n("SortMergeJoin"),
        "broadcast_nested_loop_joins": n("BroadcastNestedLoopJoin"),
        "cartesian_products": n("CartesianProduct"),
        "exchanges": n("Exchange") + n("BroadcastExchange"),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", txt))),
        "python_stages": (
            n("ArrowEvalPython")
            + n("FlatMapGroupsInPandas")
            + n("MapInPandas")
            + n("FlatMapGroupsInPandasWithState")
            + n("BatchEvalPython")
        ),
        "map_in_pandas": n("MapInPandas"),
        "grouped_map_in_pandas": n("FlatMapGroupsInPandas"),
        "row_python_udfs": n("BatchEvalPython"),
        "pushed_filters": sorted(
            set(
                m.strip()
                for m in re.findall(r"PushedFilters: \[([^\]]*)\]", txt)
            )
            - {""}
        ),
        "scanned_columns": sorted(
            set(
                c
                for m in re.findall(r"ReadSchema: struct<([^>\n]*)", txt)
                for c in re.findall(r"(\w+):", m)
            )
        ),
    }


def red_flags(name: str, facts: dict) -> list[str]:
    """The gate: empty list == plan is shippable."""
    flags: list[str] = []
    if facts["cartesian_products"]:
        flags.append(f"{name}: CartesianProduct in plan")
    if facts["broadcast_nested_loop_joins"] and name not in TINY_CROSS_OK:
        flags.append(
            f"{name}: BroadcastNestedLoopJoin not on the tiny-cross allowlist"
        )
    if facts["row_python_udfs"]:
        flags.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
    if facts["python_stages"] and name not in PYTHON_STAGE_OK:
        flags.append(
            f"{name}: Python stage not on the Arrow-batched allowlist"
        )
    ceiling = WIDE_PLAN_OK.get(name, MAX_EXCHANGES)
    if facts["exchanges"] > ceiling:
        flags.append(
            f"{name}: {facts['exchanges']} exchanges > {ceiling}"
        )
    return flags
