"""The manifest-committing shard sink (sources/manifest_sink.py): task
shards + driver-committed manifest, and the reader half of the
exactly-once contract (manifest-listed files only)."""

from __future__ import annotations

import os

from stock_market_big_data_project_spark.sources.manifest_sink import (
    read_manifest,
    read_via_manifest,
    register_manifest_sink,
)
from stock_market_big_data_project_spark.sources.tables import load_table

from .conftest import SF_DIR


def _export(spark, tmp_path, n_parts=6):
    register_manifest_sink(spark)
    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    path = str(tmp_path / "export")
    (
        d.repartition(n_parts)
        .write.format("manifest_shards")
        .option("path", path)
        .option("keyColumn", "doc_id")
        .mode("append")
        .save()
    )
    return d, path


def test_manifest_totals_match_shards(spark, tmp_path):
    d, path = _export(spark, tmp_path)
    m = read_manifest(path)
    assert m["n_rows"] == d.count()
    assert len(m["shards"]) <= 6
    assert sum(s["n_rows"] for s in m["shards"]) == m["n_rows"]
    fp = 0
    for s in m["shards"]:
        fp ^= s["fp"]
    assert fp == m["fingerprint"]
    back = read_via_manifest(spark, path)
    assert back.count() == m["n_rows"]
    assert (
        back.select("doc_id").subtract(d.select("doc_id")).count() == 0
    )


def test_reader_ignores_orphan_shards(spark, tmp_path):
    # an orphan file from a failed/speculative task: present on disk,
    # absent from the manifest — the manifest reader must not see it,
    # while a naive directory glob would double-count
    d, path = _export(spark, tmp_path)
    orphan = os.path.join(path, "shard-orphan.parquet")
    d.limit(7).write.mode("overwrite").parquet(str(tmp_path / "tmp_orphan"))
    import glob as g
    import shutil

    shutil.copy(g.glob(str(tmp_path / "tmp_orphan" / "*.parquet"))[0], orphan)

    n_manifest = read_via_manifest(spark, path).count()
    n_glob = spark.read.parquet(f"{path}/shard-*.parquet").count()
    assert n_manifest == d.count()
    assert n_glob == d.count() + 7


def test_fingerprint_is_layout_invariant(spark, tmp_path):
    _, p1 = _export(spark, tmp_path / "a", n_parts=3)
    _, p2 = _export(spark, tmp_path / "b", n_parts=11)
    assert (
        read_manifest(p1)["fingerprint"] == read_manifest(p2)["fingerprint"]
    )


def _fake_commit(path, name, n_rows, fp):
    from stock_market_big_data_project_spark.sources.manifest_sink import (
        _ShardCommit,
    )

    with open(os.path.join(path, name), "wb") as fh:
        fh.write(b"x")
    return _ShardCommit(name, n_rows, fp)


def test_stream_replayed_batch_dedups_by_batch_id(tmp_path):
    # Crash between sink commit and checkpoint commit: Spark re-runs the
    # batch with the SAME batchId but all-NEW uuid4 shard names. The
    # manifest must not double-list the epoch, and the re-run's orphan
    # files must be removed from the directory.
    from stock_market_big_data_project_spark.sources.manifest_sink import (
        ManifestStreamWriter,
    )

    path = str(tmp_path / "replay")
    os.makedirs(path)
    w = ManifestStreamWriter({"path": path, "keyColumn": "k"}, None)

    first = [_fake_commit(path, "shard-aaa.parquet", 5, 0b101)]
    w.commit(first, batchId=0)
    m = read_manifest(path)
    assert m["n_rows"] == 5 and len(m["shards"]) == 1

    # replay of batch 0 under fresh names
    replay = [_fake_commit(path, "shard-bbb.parquet", 5, 0b101)]
    w.commit(replay, batchId=0)
    m = read_manifest(path)
    assert m["n_rows"] == 5
    assert [s["file"] for s in m["shards"]] == ["shard-aaa.parquet"]
    assert not os.path.exists(os.path.join(path, "shard-bbb.parquet"))

    # a genuinely new epoch still appends
    w.commit([_fake_commit(path, "shard-ccc.parquet", 2, 0b011)], batchId=1)
    m = read_manifest(path)
    assert m["n_rows"] == 7 and len(m["shards"]) == 2
    assert m["fingerprint"] == (0b101 ^ 0b011)


def test_abort_tolerates_none_messages(tmp_path):
    # Spark passes None commit messages for failed/unfinished tasks;
    # abort must skip them instead of raising and masking the failure.
    from stock_market_big_data_project_spark.sources.manifest_sink import (
        ManifestShardWriter,
    )

    path = str(tmp_path / "abort")
    os.makedirs(path)
    w = ManifestShardWriter({"path": path, "keyColumn": "k"}, None)
    live = _fake_commit(path, "shard-live.parquet", 1, 1)
    w.abort([None, live, None])
    assert not os.path.exists(os.path.join(path, "shard-live.parquet"))


def test_stream_zero_row_epoch_replay_is_detected(tmp_path):
    # A zero-row epoch leaves no shard entry, so replay detection must
    # key on the manifest-level committed_batches list, not per-shard
    # batch fields. Scenario: batch 0 writes rows, batch 1 is empty,
    # crash, batch 1 replays WITH rows this time (nondeterministic
    # upstream would make the old shard-field-only dedup double-append;
    # with the list the replay is dropped).
    from stock_market_big_data_project_spark.sources.manifest_sink import (
        ManifestStreamWriter,
    )

    path = str(tmp_path / "zero")
    os.makedirs(path)
    w = ManifestStreamWriter({"path": path, "keyColumn": "k"}, None)
    w.commit([_fake_commit(path, "shard-aaa.parquet", 3, 0b100)], batchId=0)
    w.commit([], batchId=1)  # zero-row epoch
    m = read_manifest(path)
    assert m["committed_batches"] == [0, 1]

    replay = [_fake_commit(path, "shard-bbb.parquet", 2, 0b010)]
    w.commit(replay, batchId=1)
    m = read_manifest(path)
    assert m["n_rows"] == 3
    assert [s["file"] for s in m["shards"]] == ["shard-aaa.parquet"]
    assert not os.path.exists(os.path.join(path, "shard-bbb.parquet"))
    assert m["committed_batches"] == [0, 1]


def test_stream_legacy_manifest_upgrade(tmp_path):
    # Manifests written before the committed_batches list existed carry
    # only per-shard "batch" fields (or, for truly old ones, none).
    # The upgrade path must (a) seed the committed set from whatever
    # shard fields exist, (b) flag fully batch-less manifests as
    # legacy_batchless rather than silently assuming history.
    import json as _json

    from stock_market_big_data_project_spark.sources.manifest_sink import (
        MANIFEST_NAME,
        ManifestStreamWriter,
    )

    path = str(tmp_path / "legacy")
    os.makedirs(path)
    legacy = {
        "shards": [
            {"file": "shard-old1.parquet", "n_rows": 4, "fp": 0b1, "batch": 0},
            {"file": "shard-old2.parquet", "n_rows": 1, "fp": 0b10},  # no batch
        ],
        "n_rows": 5,
        "fingerprint": 0b11,
        "key_column": "k",
    }
    with open(os.path.join(path, MANIFEST_NAME), "w") as fh:
        _json.dump(legacy, fh)

    w = ManifestStreamWriter({"path": path, "keyColumn": "k"}, None)
    # replay of batch 0 is still caught via the shard-derived set
    replay = [_fake_commit(path, "shard-new.parquet", 4, 0b1)]
    w.commit(replay, batchId=0)
    m = read_manifest(path)
    assert m["n_rows"] == 5 and len(m["shards"]) == 2

    # a new epoch appends, upgrades the manifest, and records the caveat
    w.commit([_fake_commit(path, "shard-n2.parquet", 2, 0b100)], batchId=7)
    m = read_manifest(path)
    assert m["n_rows"] == 7
    assert m["committed_batches"] == [0, 7]
    assert m.get("legacy_batchless") is True
