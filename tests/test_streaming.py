"""Streaming parity: replay the events fixture as a file-source stream and
assert batch ≡ streaming on the same input (SURVEY.md §5.5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stock_market_big_data_project_spark.sources.tables import load_table
from stock_market_big_data_project_spark.streaming.ingest import (
    dedup_within_watermark,
    hourly_tumbling_agg,
    read_events_stream,
    run_to_memory,
)
from stock_market_big_data_project_spark.streaming.stateful import stateful_ffill


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Copy the events fixture into a stream-source directory (the file
    source treats each file as arriving data)."""
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_streaming_hourly_agg_equals_batch(spark, sf_dir, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir)
    got = run_to_memory(hourly_tumbling_agg(stream)).toPandas()

    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
            F.col("user_id").alias("symbol"),
        )
        .agg(
            F.max_by("value", F.struct("ts", "event_id")).alias("price"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .toPandas()
    )
    # append mode only emits windows the watermark has passed: at stream end
    # the final windows (inside max_ts - 2h) are withheld — compare the
    # closed-window subset, and require the stream emitted nothing else.
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    wm = pd.Timestamp(max_ts) - pd.Timedelta("2 hours")
    want = want[want["hour_ts"] + pd.Timedelta("1 hour") <= wm]

    key = ["hour_ts", "symbol"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s[got_s.columns], check_like=True)


def test_streaming_dedup(spark, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir)
    got = run_to_memory(dedup_within_watermark(stream)).toPandas()
    assert got["event_id"].is_unique
    assert len(got) > 0


def test_stateful_ffill_carries_last_value(spark, tmp_path):
    # long-format stream with gaps: indicator A has nulls that must be filled
    pdf = pd.DataFrame(
        {
            "indicator": ["A", "A", "A", "B", "B"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 01:00", "2024-01-01 02:00",
                 "2024-01-01 00:30", "2024-01-01 01:30"]
            ),
            "value": [1.5, None, 2.5, None, 7.0],
        }
    )
    src = tmp_path / "fred_stream"
    src.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    # pyarrow writes ns timestamps by default, which Spark can't read —
    # coerce to microseconds (same issue as the events fixture)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    table = pa.Table.from_pandas(pdf)
    pq.write_table(table, src / "batch0.parquet")

    stream = (
        spark.readStream.schema("indicator string, ts timestamp, value double")
        .format("parquet")
        .load(str(src))
    )
    got = (
        run_to_memory(stateful_ffill(stream))
        .toPandas()
        .sort_values(["indicator", "ts"])
        .reset_index(drop=True)
    )
    a = got[got["indicator"] == "A"]["value"].tolist()
    assert a == [1.5, 1.5, 2.5]  # null at 01:00 filled with 1.5
    b = got[got["indicator"] == "B"]["value"].tolist()
    assert b[0] is None or pd.isna(b[0])  # nothing to carry yet
    assert b[1] == 7.0
    assert got[got["indicator"] == "A"]["filled"].tolist() == [False, True, False]


def test_streaming_session_window_equals_batch(spark, sf_dir, events_stream_dir):
    from stock_market_big_data_project_spark.streaming.ingest import (
        session_window_agg,
    )

    stream = read_events_stream(spark, events_stream_dir)
    got = run_to_memory(session_window_agg(stream)).toPandas()

    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .toPandas()
    )
    # append mode only emits sessions closed by the final watermark
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = pd.Timestamp(max_ts) - pd.Timedelta("2 hours")
    want = want[want["session_end"] <= wm]

    key = ["user_id", "session_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) > 0
    pd.testing.assert_frame_equal(got_s, want_s[got_s.columns], check_like=True)


def test_streaming_interval_join_equals_batch(spark, sf_dir, events_stream_dir):
    """Stream-stream interval join (purchases ⋈ preceding-hour clicks) over
    the replayed fixture must produce exactly the batch range join's rows —
    inner interval joins emit results as matches arrive, so even the final
    watermark leaves nothing held back on a finite replay."""
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        load_all_plans,
    )
    from stock_market_big_data_project_spark.streaming.ingest import (
        interval_join_streams,
    )

    load_all_plans()
    stream = read_events_stream(spark, events_stream_dir)
    got = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["gap_micros"])
        for r in run_to_memory(interval_join_streams(stream)).collect()
    }
    want = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["gap_micros"])
        for r in LOCAL_QUERIES["interval_join_purchase_click"](
            spark, sf_dir
        ).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.parametrize(
    "name",
    [
        "streaming_batch_parity",
        "streaming_stateful_ffill_parity",
        "streaming_clean_corpus_parity",
    ],
)
def test_memory_sink_queries_leave_no_catalog_views(spark, sf_dir, name):
    """A memory-sink parity query returns its rows without leaving the
    sink's temp view (and with it the sink buffer) in the catalog."""
    from stock_market_big_data_project_spark.plans import get_query

    before = spark.catalog.listTables()
    out = get_query(name)(spark, sf_dir)
    assert spark.catalog.listTables() == before
    assert out.count() > 0


@pytest.mark.parametrize(
    "name", ["streaming_pagerank_edges_parity", "streaming_image_dhash_parity"]
)
def test_replay_removes_scratch_and_result_still_collects(
    spark, sf_dir, monkeypatch, name
):
    """`ingest.replay` deletes its scratch dir before returning, and the
    returned frame reads nothing from it."""
    import os
    import tempfile

    from stock_market_big_data_project_spark.plans import get_query

    made = []
    mkdtemp = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    out = get_query(name)(spark, sf_dir)
    assert made and not any(os.path.exists(d) for d in made)
    assert len(out.collect()) > 0


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """`get_spark` pins the FileSystem-API checkpoint manager for local
    paths, and that manager still refuses to overwrite an existing log
    entry: the offset and commit logs rely on a no-overwrite create
    failing when the batch id is already taken."""
    from py4j.protocol import Py4JJavaError

    jvm = spark.sparkContext._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri()), hconf
    )
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )

    entry = jvm.org.apache.hadoop.fs.Path((tmp_path / "0").as_uri())
    out = manager.createAtomic(entry, False)
    out.write(1)
    out.close()
    with pytest.raises(Py4JJavaError, match="FAILED_RENAME_PATH"):
        out = manager.createAtomic(entry, False)
        out.write(2)
        out.close()
    assert (tmp_path / "0").read_bytes() == b"\x01"


def test_hourly_agg_restarts_from_checkpoint(spark, sf_dir, tmp_path):
    """Stop the hourly aggregate after half of the files and restart it on
    the same checkpoint once the rest have arrived: the sink must equal an
    uninterrupted run over the same files, and the restarted query must
    read only the new files' rows (offsets, commits and the window state
    are all recovered from the checkpoint)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from .oracle_utils import compare

    events = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    # ts-ordered parts: windows straddle the part boundaries, so the state
    # carried across the restart is exercised, not just the offsets
    bounds = np.linspace(0, events.num_rows, 5).astype(int)
    parts = [events.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]

    def stage(src, lo, hi):
        src.mkdir(exist_ok=True)
        for k in range(lo, hi):
            path = src / f"part-{k:04d}.parquet"
            pq.write_table(parts[k], path)
            # the file source orders new files by modification time
            os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))

    def run(src, out):
        q = (
            hourly_tumbling_agg(read_events_stream(spark, str(src), max_files_per_trigger=1))
            .writeStream.format("parquet")
            .option("checkpointLocation", str(out / "ckpt"))
            .option("path", str(out / "sink"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    stage(tmp_path / "whole_src", 0, len(parts))
    assert run(tmp_path / "whole_src", tmp_path / "whole") == events.num_rows

    half = len(parts) // 2
    src, out = tmp_path / "split_src", tmp_path / "split"
    stage(src, 0, half)
    first = run(src, out)
    stage(src, half, len(parts))
    second = run(src, out)
    assert first == sum(p.num_rows for p in parts[:half])
    assert second == sum(p.num_rows for p in parts[half:])

    want = spark.read.parquet(str(tmp_path / "whole" / "sink")).toPandas()
    assert len(want) > 0
    got = spark.read.parquet(str(out / "sink"))
    assert compare(got, want, "hourly_agg_restart") == []
