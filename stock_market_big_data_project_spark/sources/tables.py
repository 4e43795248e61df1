"""Parquet/CSV table sources (SURVEY.md §2.1, OP-06..OP-08).

The reference scans whole Firestore collections into pandas
(preprocess_function/main.py:10-37) and round-trips CSV through GCS
(integrate/main.py:9-14, analysis_part/main.py:16-26). Here every table is a
columnar parquet scan: Catalyst pushes predicates and prunes columns into the
scan, so "collection scan" becomes an indexed, pruned read instead of a full
materialization. A CSV connector is kept for format parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The embeddings table: one unit-normalized float vector of EMB_DIMS
# components per id. Every similarity, PQ and k-means operator reads this
# layout.
VEC_ID = "vec_id"
EMBEDDING = "embedding"
EMB_DIMS = 64

# The documents table's key.
DOC_ID = "doc_id"

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _pin_session_confs(spark: SparkSession) -> None:
    """Runtime confs every query needs regardless of who built the session.

    The driver harness runs queries in ITS OWN SparkSession (not
    session.py's), so anything correctness-critical must be set here, at
    scan time, not at session build time. UTC matters because the fixture
    timestamps are naive-UTC and the DuckDB oracle is timezone-less —
    `date_trunc`/`to_date` in a non-UTC session would shift day boundaries
    and hash-mismatch every time-bucketed query.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (OP-06 re-expressed).

    parquet, not CSV/Firestore: vectorized reader, predicate pushdown,
    column pruning all apply. At 100 TB the same call reads a
    date-partitioned table and Catalyst prunes partitions.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return load_events(spark, sf_dir)
    _pin_session_confs(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events(spark: SparkSession, sf_dir: str, min_ts: str | None = None) -> DataFrame:
    """events scan with pushdown-aware time filtering.

    events.ts is read as ``timestamp_ntz`` (parquet TIMESTAMP(NANOS) is
    truncated to µs, identical to DuckDB's read). ``min_ts`` filters the
    ntz column before the cast, so the cutoff pushes into the scan
    (``PushedFilters: [GreaterThanOrEqual(ts, ...)]``) — at 100 TB that is
    row-group and partition pruning. The cast to TimestampType is
    wall-clock-preserving under the pinned UTC session, so the returned
    ``ts`` is a session-zoned (UTC) microsecond timestamp.
    """
    from pyspark.sql import functions as F

    _pin_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if min_ts is not None:
        df = df.filter(F.col("ts") >= F.lit(min_ts).cast("timestamp_ntz"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """CSV connector kept for parity with the reference's GCS CSV round-trips
    (OP-07, integrate/main.py:9-14). Explicit schema preferred — the
    reference's inferred schemas are a correctness hazard at scale.
    """
    reader = spark.read.option("header", True).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, **options) -> None:
    """CSV sink (OP-08, preprocess_function/main.py:49-52). Pass
    e.g. ``timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS"`` when the frame
    carries sub-millisecond timestamps — Spark's default CSV format keeps
    only milliseconds, a silent precision loss on round-trip."""
    df.write.mode("overwrite").option("header", True).options(**options).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """Parquet sink — the native at-rest format; partition columns give
    physical partition pruning for the time-series cutoff filters (OP-15).
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


# Hash buckets of every bucketed table.
N_BUCKETS = 8


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed parquet table (catalog-managed): pre-shuffles data into
    `N_BUCKETS` hash buckets on the join/agg key so later equi-joins and
    aggregations on that key are co-located — Catalyst drops the Exchange
    entirely (proved in tests/test_bucketing.py). This is the storage-side
    answer to the 100 TB fact⋈fact join: pay the shuffle once at write
    time, never again per query. `sort_cols` additionally orders within
    buckets so sort-merge joins skip their sort."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        N_BUCKETS, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    sort_cols: tuple[str, ...] = (),
) -> int:
    """Compact a small-files parquet directory into ~target-sized files.

    Streaming ingestion (one file per micro-batch per partition — OP-61)
    degrades scans at scale: each tiny file costs a task, a footer read and
    a driver listing entry, so 100 TB of 1 MB files is ~10⁸ scheduler units.
    Compaction rewrites the directory into ⌈total/target⌉ files; with
    `sort_cols` the rewrite is range-partitioned + sorted so min/max
    row-group stats become selective (the pushed-filter pruning the
    streaming writer destroyed). Returns the number of output files.

    Scale notes: size is measured from the source footprint (no data
    scan); the rewrite is one pass — `repartitionByRange` samples the sort
    key, shuffles once, writes sorted runs. Run per partition-directory for
    an incremental table so only fresh partitions are touched.
    """
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src)
    fs = path.getFileSystem(conf)
    summary = fs.getContentSummary(path)
    n_files = max(1, math.ceil(summary.getLength() / target_file_bytes))

    df = spark.read.parquet(src)
    if sort_cols:
        df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dest)
    out = jvm.org.apache.hadoop.fs.Path(dest)
    return sum(
        1
        for st in fs.listStatus(out)
        if st.getPath().getName().endswith(".parquet")
    )


def read_jsonl(
    spark: SparkSession, path: str, schema=None, quarantine: bool = False,
    **options,
) -> DataFrame:
    """JSON-Lines source — the de-facto interchange format for training
    corpora (one document object per line). Explicit schema strongly
    preferred: schema inference reads the data TWICE and types drift with
    sampling; at 100 TB that is both a full extra scan and a correctness
    hazard. With a schema the reader is a single streaming pass, splittable
    per line.

    Malformed lines never kill the job (PERMISSIVE), but Spark only
    *captures* them when the schema has a `_corrupt_record` column — with a
    plain schema they surface as silent all-null rows. Pass
    ``quarantine=True`` to have that column appended to the supplied schema
    automatically, then split good from bad on `_corrupt_record IS NULL`.
    """
    if quarantine and schema is not None and "_corrupt_record" not in schema.names:
        from pyspark.sql.types import StringType, StructField, StructType

        # new StructType — StructType.add mutates the caller's schema
        schema = StructType(
            list(schema.fields) + [StructField("_corrupt_record", StringType())]
        )
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, **options) -> None:
    """JSON-Lines sink, gzip-compressed: JSONL is ~4-10× larger than
    parquet for the same rows, and gzip parts keep the export shippable.
    Not a storage format — an interchange/export step at the pipeline
    edge (parquet remains the at-rest format). Like CSV, Spark's default JSON
    timestampFormat keeps milliseconds only — pass
    ``timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"`` to round-trip µs
    timestamps losslessly."""
    writer = df.write.mode("overwrite").options(**options)
    writer.option("compression", "gzip").json(path)
