"""The benchmark's only contact with the engine: set-up, the public handles
the workloads call, and shutdown."""

from __future__ import annotations

import time
import types


def setup():
    """One cold set-up: session start plus plan loading.
    Returns (spark, get_spark seconds, load_all_plans seconds)."""
    from stock_market_big_data_project_spark.plans import load_all_plans
    from stock_market_big_data_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    load_all_plans()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def handles(spark) -> types.SimpleNamespace:
    """The engine's public functions, registries and oracles, plus the test
    suite's oracle comparison (tests/ must be on sys.path)."""
    from oracle_utils import compare
    from stock_market_big_data_project_spark.pipeline import INTEGRATED_ORACLE, build_integrated
    from stock_market_big_data_project_spark.plans import (
        LOCAL_ORACLES,
        LOCAL_QUERIES,
        ORACLES,
        QUERIES,
    )
    from stock_market_big_data_project_spark.sources.tables import write_parquet
    from stock_market_big_data_project_spark.streaming.ingest import (
        hourly_tumbling_agg,
        read_events_stream,
    )

    return types.SimpleNamespace(
        spark=spark,
        queries={**QUERIES, **LOCAL_QUERIES},
        oracles={**ORACLES, **LOCAL_ORACLES},
        build_integrated=build_integrated,
        write_parquet=write_parquet,
        read_events_stream=read_events_stream,
        hourly_tumbling_agg=hourly_tumbling_agg,
        integrated_oracle=INTEGRATED_ORACLE,
        compare=compare,
    )


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
