"""Streaming incremental IMAGE dedup — the eleventh live-path parity (r9).

Extends the incremental-dedup contract (streaming_near_dup_parity's
MinHash path, r5) to the image modality: each micro-batch of freshly
ingested image payloads is decoded and dHashed (one fused Arrow stage),
then ONLY the delta's band keys probe the at-rest banded hash table
(`operators/dedup.py::incremental_lsh_candidates`, delta_in_full=False so
new-vs-new duplicates are found before the merge), survivors verify with
the exact 64-bit Hamming distance, and the delta's band rows + hashes
append to state. A pair is emitted exactly once — in the batch where its
later member arrives — so the union of emissions equals the from-scratch
batch query (`image_dhash_near_dup`), which is what the shared full-corpus
oracle hash-proves.

At 100 TB this is how a crawl pipeline dedups its daily image append in
O(delta): per-tick work is delta-sized (4 band-bucket probes per new
image), the at-rest table never self-joins again, and on a
(band, band_hash)-bucketed layout the probe is an exchange-free bucketed
equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import SIMHASH_MAX_DIST, incremental_lsh_candidates
from ..operators.imagehash import attach_near_dup_png_payload, dhash_images
from ..sources.tables import DOC_ID
from .ingest import replay

_BITS, _BANDS = 64, 4


def dhash_banded(fp: DataFrame) -> DataFrame:
    """(id, dhash, band, band_hash): the SimHash band split applied to a
    dHash column — 4 disjoint 16-bit prefixes, the pigeonhole-complete
    candidate index for Hamming ≤ 3 (same arithmetic as
    simhash_hamming_pairs; the mask cuts arithmetic-shift sign fill)."""
    width = _BITS // _BANDS
    mask = (1 << width) - 1
    return fp.select(
        DOC_ID,
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.shiftright(F.col("dhash"), t * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_hash"),
                    )
                    for t in range(_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(DOC_ID, "dhash", "bk.band", "bk.band_hash")


def streaming_image_dhash_pairs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Replay ``docs`` as doc_id-range micro-batches of image payloads
    through the incremental dedup chain (`ingest.replay`); returns the
    union of per-batch emissions, (id_a, id_b, hamming_dist)."""

    def per_batch(scratch: str, batch_df: DataFrame, batch_id: int) -> None:
        bands_dir = f"{scratch}/state_bands"
        if batch_id == 0:
            # the first probe reads an empty, typed at-rest table
            spark.createDataFrame(
                [], "doc_id bigint, dhash bigint, band int, band_hash bigint"
            ).write.mode("overwrite").parquet(bands_dir)
        fp = dhash_images(attach_near_dup_png_payload(batch_df))
        delta = dhash_banded(fp).localCheckpoint()
        old = spark.read.parquet(bands_dir)
        cand = incremental_lsh_candidates(old, delta, delta_in_full=False)
        hashes = (
            old.select("doc_id", "dhash")
            .unionByName(delta.select("doc_id", "dhash"))
            .distinct()
        )
        ha = hashes.select(F.col("doc_id").alias("id_a"), F.col("dhash").alias("_ha"))
        hb = hashes.select(F.col("doc_id").alias("id_b"), F.col("dhash").alias("_hb"))
        dist = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("int")
        (
            cand.join(ha, "id_a")
            .join(hb, "id_b")
            .withColumn("hamming_dist", dist)
            .filter(F.col("hamming_dist") <= SIMHASH_MAX_DIST)
            .select("id_a", "id_b", "hamming_dist")
            .write.mode("append")
            .parquet(f"{scratch}/out_pairs")
        )
        delta.write.mode("append").parquet(bands_dir)

    return replay(
        spark,
        docs,
        "doc_id",
        per_batch,
        lambda scratch: spark.read.parquet(f"{scratch}/out_pairs"),
    )
