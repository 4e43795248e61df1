"""Composite family bundles — one driver-certified hash row per family.

The external driver checks at most 50 queries per round, so whole r9
families (codecs, perceptual dedup, graph, subquery decorrelation,
trainer replays, warehouse/event-flow) were stuck in the local-tier
promotion queue.  Each bundle here composes one family's registered
queries VERBATIM — the bundle calls the exact registered callables and
unions their full row sets (not summaries) into one frame — so a single
driver slot hash-certifies every row of every leg, and demoting a leg
that also rides a bundle never loses driver coverage of its construct
(the `training_pipeline_e2e` pattern, ordered by VERDICT r9 #1).

Common schema (the driver compare sorts columns by name, so the names
are the contract): ``leg`` tags the family member, ``key`` carries every
non-double value as a '|'-joined null-safe string (BIGINT/STRING/BOOL/
TIMESTAMP all print identically across engines; timestamps go through
epoch-micros BIGINT so no wall-clock formatting is involved), and
``d1..d5`` carry the leg's double columns in declared order (doubles
stay typed — double→string is NOT engine-stable).  The oracle side is
generated from the SAME per-leg column spec over the leg's registered
oracle SQL, so the two sides cannot drift independently.

Scale shape: a bundle is a UNION of already-audited plans — no new
joins, no new shuffles beyond its legs' audited ones.  A leg that runs
jobs while it is built (the graph and trainer legs) runs them while the
bundle is built, and the plan gate audits those executions too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# importing the leg modules runs their registrations (idempotent), so the
# oracle lookups below work however this module is imported
from . import (  # noqa: F401
    eventflow,
    linkage,
    llm,
    market,
    relational,
    retrieval,
    statistical,
    subqueries,
    training,
    warehouse,
)
from .registry import LOCAL_ORACLES, LOCAL_QUERIES, ORACLES, QUERIES, register

_N_DOUBLES = 5
_NULL_TOKEN = "@"  # null marker inside the '|'-joined key


def _leg_fn(name: str):
    """The registered callable for a leg — tier-agnostic, resolved at
    CALL time so driver-slot rotations never break a bundle."""
    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        fn = QUERIES.get(name) or LOCAL_QUERIES[name]
        return fn(spark, sf_dir)

    return call


def _leg_oracle(name: str) -> str:
    sql = ORACLES.get(name) or LOCAL_ORACLES.get(name)
    if sql is None:
        raise KeyError(f"bundle leg {name!r} has no registered oracle")
    return sql


# spec: ordered (column, kind) with kind in {s: string, i: integer,
# b: boolean, t: timestamp, d: double}.  Non-d columns join into `key`
# in spec order; d columns fill d1.. in spec order.
Spec = list[tuple[str, str]]


def _check_spec(leg: str, spec: Spec) -> None:
    """Fail LOUDLY at registration time if a leg declares more doubles
    than the common schema carries — both projection helpers would
    otherwise drop the overflow SYMMETRICALLY, so parity would still
    pass while the extra column silently escaped certification."""
    n_d = sum(1 for _, kind in spec if kind == "d")
    if n_d > _N_DOUBLES:
        raise ValueError(
            f"bundle leg {leg!r} declares {n_d} double columns; the "
            f"common schema carries {_N_DOUBLES} — widen _N_DOUBLES "
            "(both sides) instead of letting the overflow vanish"
        )


def _spark_leg(df: DataFrame, leg: str, spec: Spec) -> DataFrame:
    _check_spec(leg, spec)
    key_parts = []
    doubles = []
    for col, kind in spec:
        c = F.col(col)
        if kind == "d":
            doubles.append(c.cast("double"))
            continue
        if kind == "t":
            # epoch micros: TIMESTAMP is an instant (TZ-independent);
            # TIMESTAMP_NTZ casts through the session zone, which is UTC
            # everywhere this runs (driver preflight covers the vanilla
            # session) — matches DuckDB epoch_us over the naive value
            c = F.unix_micros(c.cast("timestamp"))
        elif kind == "b":
            c = c.cast("int")
        key_parts.append(F.coalesce(c.cast("string"), F.lit(_NULL_TOKEN)))
    cols = [
        F.lit(leg).alias("leg"),
        F.concat_ws("|", *key_parts).alias("key"),
    ]
    for i in range(_N_DOUBLES):
        cols.append(
            (doubles[i] if i < len(doubles) else F.lit(None).cast("double"))
            .alias(f"d{i + 1}")
        )
    return df.select(*cols)


def _oracle_leg(name: str, leg: str, spec: Spec) -> str:
    _check_spec(leg, spec)
    key_parts = []
    doubles = []
    for col, kind in spec:
        e = f'"{col}"'
        if kind == "d":
            doubles.append(f'CAST("{col}" AS DOUBLE)')
            continue
        if kind == "t":
            e = f"epoch_us({e})"
        elif kind == "b":
            e = f"CAST({e} AS INT)"
        key_parts.append(f"COALESCE(CAST({e} AS VARCHAR), '{_NULL_TOKEN}')")
    key = " || '|' || ".join(key_parts) if key_parts else "''"
    d_cols = ", ".join(
        (doubles[i] if i < len(doubles) else "CAST(NULL AS DOUBLE)")
        + f" AS d{i + 1}"
        for i in range(_N_DOUBLES)
    )
    return (
        f"SELECT '{leg}' AS leg, {key} AS key, {d_cols} "
        f"FROM ({_leg_oracle(name)}) _bleg"
    )


def _bundle(legs: dict[str, Spec]):
    """(spark_fn, oracle_sql) composing every leg verbatim."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for name, spec in legs.items():
            part = _spark_leg(_leg_fn(name)(spark, sf_dir), name, spec)
            out = part if out is None else out.unionByName(part)
        return out

    oracle = "\nUNION ALL\n".join(
        _oracle_leg(name, name, spec) for name, spec in legs.items()
    )
    return fn, oracle


def _register_bundle(bundle_name: str, legs: dict[str, Spec], doc: str) -> None:
    fn, oracle = _bundle(legs)
    fn.__name__ = bundle_name
    fn.__qualname__ = bundle_name
    fn.__doc__ = doc
    register(bundle_name, oracle=oracle)(fn)


# --------------------------------------------------------------------------
# Multimodal codec family: every real decoder's full fingerprint table in
# one hash row (BMP + PNG + baseline JPEG + WAV/PCM + YUV4MPEG2).
# --------------------------------------------------------------------------
_register_bundle(
    "multimodal_decode_bundle",
    {
        "multimodal_bmp_decode": [
            ("doc_id", "i"), ("width", "i"), ("height", "i"),
            ("n_bytes", "i"), ("pixel_md5", "s"), ("out_width", "i"),
            ("out_height", "i"), ("out_pixel_md5", "s"),
        ],
        "multimodal_png_decode": [
            ("doc_id", "i"), ("width", "i"), ("height", "i"),
            ("color_type", "i"), ("n_pixels", "i"), ("pixel_md5", "s"),
            ("out_width", "i"), ("out_height", "i"), ("out_pixel_md5", "s"),
        ],
        "multimodal_jpeg_decode": [
            ("doc_id", "i"), ("width", "i"), ("height", "i"),
            ("color_type", "i"), ("pixel_md5", "s"), ("max_abs_err", "i"),
        ],
        "multimodal_wav_features": [
            ("doc_id", "i"), ("channels", "i"), ("sample_rate", "i"),
            ("n_samples", "i"), ("frame", "i"), ("energy", "i"),
            ("n_zero_cross", "i"),
        ],
        "multimodal_video_frames": [
            ("doc_id", "i"), ("n_frames", "i"), ("width", "i"),
            ("height", "i"), ("fps_n", "i"), ("frame", "i"),
            ("y_sum", "i"), ("y_plane_md5", "s"),
        ],
    },
    """All five dependency-free codecs' decode fingerprints as ONE
    hash-checked DAG — each leg is the registered codec query composed
    verbatim (every row driver-certified, not a summary).  The BMP leg
    keeps `multimodal_bmp_decode`'s construct driver-side after its
    rotation to the local tier (VERDICT r9 #1 pattern).""",
)

# --------------------------------------------------------------------------
# Near-dup & overlap family across modalities/sources: perceptual image/
# video/audio near-dup pairs + normalized-key text dedup + any-offset
# substring spans + cross-source n-gram overlap.
# --------------------------------------------------------------------------
_register_bundle(
    "perceptual_dedup_bundle",
    {
        "image_dhash_near_dup": [
            ("id_a", "i"), ("id_b", "i"), ("hamming_dist", "i"),
        ],
        "video_keyframe_near_dup": [
            ("id_a", "i"), ("id_b", "i"), ("n_frame_matches", "i"),
            ("min_hamming", "i"),
        ],
        "audio_fingerprint_near_dup": [
            ("id_a", "i"), ("id_b", "i"), ("hamming_dist", "i"),
        ],
        "dedup_normalized_exact": [
            ("norm_md5", "s"), ("kept_id", "i"), ("n_copies", "i"),
            ("n_raw_variants", "i"),
        ],
        "substring_dup_spans": [
            ("doc_id", "i"), ("span_start", "i"), ("span_end", "i"),
            ("n_grams", "i"),
        ],
        "source_overlap_matrix": [
            ("source_a", "s"), ("source_b", "s"), ("n_shared", "i"),
            ("jaccard", "d"),
        ],
    },
    """The near-dup/overlap surface across modalities and sources as ONE
    hash-checked DAG: perceptual dHash pairs (image), keyframe-dHash
    pairs (video), energy-envelope pairs (audio), normalized-key exact
    text dedup, rolling-hash substring spans, and the cross-source
    n-gram overlap matrix — each leg the registered query composed
    verbatim, keeping the rotated legs' constructs driver-side.""",
)

# --------------------------------------------------------------------------
# Graph analytics family over the shared co-purchase graph.
# --------------------------------------------------------------------------
_register_bundle(
    "graph_analytics_bundle",
    {
        "pagerank_copurchase": [
            ("node_type", "s"), ("key", "i"), ("rank_scaled", "i"),
            ("deg", "i"),
        ],
        "bfs_shortest_hops": [
            ("node_type", "s"), ("key", "i"), ("hops", "i"),
        ],
        "label_propagation_communities": [
            ("node_type", "s"), ("key", "i"), ("community", "i"),
        ],
        "bipartite_butterfly_stats": [
            ("n_copurchase_pairs", "i"), ("n_wedges", "i"),
            ("n_butterflies", "i"), ("max_shared_parts", "i"),
        ],
    },
    """The graph family over the same co-purchase edges as ONE
    hash-checked DAG: integer PageRank (6 damped rounds), BFS hop
    counts, label-propagation communities, and butterfly counts — each
    leg the registered query composed verbatim; the iterative legs'
    unrolled-CTE oracles replay bitwise inside the union.""",
)

# --------------------------------------------------------------------------
# Relational-completeness family: the nine subquery-decorrelation shapes
# + exact order-statistics quantiles.
# --------------------------------------------------------------------------
_register_bundle(
    "subquery_pack_bundle",
    {
        "correlated_exists_late_ship": [
            ("o_orderpriority", "s"), ("order_count", "i"),
        ],
        "not_exists_prompt_orders": [
            ("o_orderstatus", "s"), ("n_prompt_orders", "i"),
            ("sum_totalprice", "d"),
        ],
        "large_volume_orders": [
            ("c_name", "s"), ("o_orderkey", "i"), ("o_orderdate", "t"),
            ("o_totalprice", "d"), ("sum_qty", "d"),
        ],
        "disjunctive_part_revenue": [
            ("p_brand", "s"), ("revenue", "d"), ("n_items", "i"),
        ],
        "min_cost_supplier_per_part": [
            ("p_partkey", "i"), ("p_name", "s"), ("min_unit_price", "d"),
            ("best_suppkey", "i"), ("best_supplier", "s"),
        ],
        "nation_pair_trade_volume": [
            ("cust_nation", "s"), ("supp_nation", "s"), ("ship_year", "i"),
            ("volume", "d"), ("n_items", "i"),
        ],
        "dormant_high_balance_customers": [
            ("c_nationkey", "i"), ("n_dormant", "i"), ("total_balance", "d"),
        ],
        "below_avg_quantity_revenue": [
            ("l_returnflag", "s"), ("sum_price", "d"), ("n_items", "i"),
        ],
        "top_supplier_by_revenue": [
            ("s_suppkey", "i"), ("s_name", "s"), ("total_rev", "d"),
        ],
        "quantiles_by_priority": [
            ("o_orderpriority", "s"), ("p50_totalprice", "d"),
            ("p90_totalprice", "d"), ("p99_totalprice", "d"),
            ("min_price", "d"), ("max_price", "d"), ("n_orders", "i"),
        ],
        "sole_late_shipper_suppliers": [
            ("s_name", "s"), ("numwait", "i"),
        ],
        "dominant_part_suppliers": [
            ("s_suppkey", "i"), ("s_name", "s"),
        ],
        "high_share_parts": [
            ("l_partkey", "i"), ("part_rev", "d"),
        ],
        # r11 additions: the remaining classic aggregate shapes
        "promo_revenue_share": [
            ("ship_year", "i"), ("promo_share", "d"), ("n_items", "i"),
        ],
        "national_market_share": [
            ("o_year", "i"), ("mkt_share", "d"), ("n_items", "i"),
        ],
        "customer_order_distribution": [
            ("c_count", "i"), ("custdist", "i"),
        ],
        "returned_items_top_customers": [
            ("c_custkey", "i"), ("c_name", "s"), ("revenue", "d"),
            ("n_items", "i"),
        ],
        "late_shipment_priority_counts": [
            ("l_linestatus", "s"), ("high_line_count", "i"),
            ("low_line_count", "i"),
        ],
        "part_supplier_variety": [
            ("p_brand", "s"), ("p_type", "s"), ("p_size", "i"),
            ("supplier_cnt", "i"), ("n_lines", "i"),
        ],
        "nation_year_profit": [
            ("supp_nation", "s"), ("o_year", "i"), ("profit", "d"),
            ("n_lines", "i"),
        ],
    },
    """The subquery-decorrelation pack — with the r11 additions every
    classic TPC-H aggregate shape (Q1–Q22, minus the ones that are
    standalone headline queries) is now represented: Q2/Q4/Q7/Q8/Q9/Q10/
    Q11/Q12/Q13/Q14/Q15/Q16/Q17/Q18/Q19/Q20/Q21/Q22, Q16 both as the
    dominant-part variant and as the NOT-IN → anti-join + grouped
    COUNT-DISTINCT variant, plus exact order-statistics quantiles, as
    ONE hash-checked DAG — every oracle states the SUBQUERY/ANSI form,
    every Spark leg the decorrelated JOIN form, composed verbatim; the
    bitwise union hash proves all twenty rewrites in one driver
    slot.""",
)

# --------------------------------------------------------------------------
# Training-prep family: trainer replays (FFD packing, BPE merge trainer,
# Lloyd k-means) + length-bucketed batching + temperature mixing.
# --------------------------------------------------------------------------
_register_bundle(
    "training_prep_bundle",
    {
        "sequence_packing_ffd": [
            ("doc_id", "i"), ("len", "i"), ("shard", "i"), ("seq", "i"),
            ("offset", "i"), ("truncated", "b"),
        ],
        "length_bucketed_batches": [
            ("bucket", "i"), ("shard", "i"), ("batch_id", "i"),
            ("n_docs", "i"), ("max_len", "i"), ("sum_len", "i"),
            ("pad_tokens", "i"), ("pad_frac", "d"), ("members_md5", "s"),
        ],
        "temperature_sampling_mix": [
            ("source", "s"), ("n_tokens", "i"), ("weight", "d"),
            ("alloc_tokens", "i"), ("epochs", "d"),
        ],
        "bpe_learn_merges": [
            ("round", "i"), ("pair", "s"), ("merged", "s"), ("total", "i"),
        ],
        "embedding_kmeans_train": [
            ("cell", "i"), ("size", "i"), ("inertia", "d"),
            ("centroid_norm2", "d"),
        ],
    },
    """The training-data-prep family as ONE hash-checked DAG: FFD
    sequence packing, the BPE merge trainer's 8 replayed rounds, the
    decimal-exact k-means trainer's cells, length-bucketed batches, and
    the temperature-sampling mix — each leg the registered query
    composed verbatim (the three r9 trainer-replay oracle conversions
    gain their first driver-tier hash coverage here, VERDICT r9 #6).""",
)

# --------------------------------------------------------------------------
# Warehouse + event-flow family: SCD2 history, temporal dimension join,
# funnel, cohort retention, JSON extraction, data-quality report.
# --------------------------------------------------------------------------
_register_bundle(
    "warehouse_eventflow_bundle",
    {
        "scd2_user_history": [
            ("user_id", "i"), ("version", "i"), ("close_fp", "i"),
            ("valid_from", "t"), ("valid_to", "t"),
        ],
        "temporal_dimension_join": [
            ("user_id", "i"), ("version", "i"), ("close_fp", "i"),
            ("n_events", "i"), ("n_types", "i"),
        ],
        "funnel_conversion_analysis": [
            ("n_viewed", "i"), ("n_clicked", "i"), ("n_purchased", "i"),
            ("avg_view_to_click_us", "d"), ("avg_click_to_purchase_us", "d"),
        ],
        "cohort_retention_matrix": [
            ("cohort_week", "t"), ("week_offset", "i"), ("n_active", "i"),
        ],
        "json_extraction_bundle": [
            ("event_type", "s"), ("n_events", "i"), ("n_valid_json", "i"),
            ("n_with_k", "i"), ("min_k", "i"), ("max_k", "i"),
            ("avg_k", "d"), ("sum_k_mod10", "i"),
        ],
        "data_quality_report": [
            ("check_name", "s"), ("n_checked", "i"), ("n_violations", "i"),
        ],
    },
    """The warehouse + event-flow tiers as ONE hash-checked DAG: SCD2
    gaps-and-islands history (composed verbatim — the scd2 promotion
    ordered by VERDICT r9 #1 realized through the bundle), the temporal
    dimension join over it, funnel conversion, weekly cohort retention,
    JSON extraction, and the six-check data-quality report.""",
)

# --------------------------------------------------------------------------
# IO / storage-layout family (VERDICT r10 #2 — drains the standing
# promotion queue): custom-sink manifest export, mojibake cleanup,
# small-files compaction, bucketed fact⋈fact, Z-order clustering, and
# schema evolution on read, each composed verbatim.  The zorder and
# schema-evolution legs were driver-tier standalone through r10; their
# slots fund the bundle + the streaming DataSource parity promotion, and
# their constructs ride this bundle's hash row (tier-map invariant kept).
# --------------------------------------------------------------------------
_register_bundle(
    "io_layout_bundle",
    {
        "manifest_export_roundtrip": [
            ("fingerprint", "i"), ("n_rows", "i"),
        ],
        "unicode_cleanup_bundle": [
            ("doc_id", "i"), ("n_zero_width", "i"), ("n_controls", "i"),
            ("n_quotes", "i"), ("cleaned_md5", "s"),
        ],
        "compacted_scan_pricing": [
            ("l_returnflag", "s"), ("revenue", "d"), ("n_lines", "i"),
        ],
        "bucketed_join_orders_lineitem": [
            ("l_orderkey", "i"), ("sum_qty", "d"), ("revenue", "d"),
            ("o_totalprice", "d"), ("n_lines", "i"),
        ],
        "zorder_compacted_scan": [
            ("l_returnflag", "s"), ("revenue", "d"), ("n_lines", "i"),
        ],
        "schema_evolution_read": [
            ("source", "s"), ("n_docs", "i"), ("n_with_quality", "i"),
            ("sum_quality", "d"),
        ],
    },
    """The IO/storage-layout surface as ONE hash-checked DAG: the
    two-phase-commit manifest export (readback fingerprint), the
    ftfy-style Unicode cleanup map, range-sorted small-files compaction
    (post-compaction pruned scan), the Exchange-free bucketed
    lineitem⋈orders join, the Z-order (Morton) clustered scan, and the
    mergeSchema two-generation read — each leg the registered query
    composed verbatim, with every leg's own build-time self-check
    (manifest totals, file-skip asserts, Exchange-free assert) still
    enforced inside the bundle.  Layout must never change results: every
    leg's oracle runs against the ORIGINAL tables.""",
)
