"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time feature pipeline on
sf0.001; ``queries()``/``oracle_sql()`` expose every implemented operator
from SURVEY.md §2 with its DuckDB oracle (see ``fs2_data_spark/queries.py``),
both in the driver-window order of ``tools/driver_order.py`` (loaded by path,
computed once per process).
"""

from __future__ import annotations

import functools
import importlib.util
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F


def _tz(spark: SparkSession) -> None:
    # pin parity-relevant conf (harmless if already set by the driver)
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: as-of join (clicks <- last purchase, strict point-in-time)
    + lag/lead + rolling + sessionization feature stack on sf0.001 events."""
    _tz(spark)
    from fs2_data_spark.operators.asof import asof_join
    from fs2_data_spark.operators.sessionize import sessionize
    from fs2_data_spark.operators.windows import with_lag_lead, with_rolling

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("purchase_value")))
    out = asof_join(clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["purchase_value"], strategy="union")
    out = with_lag_lead(out, ["value"], key="user_id", ts=["ts", "event_id"])
    out = with_rolling(out, "value", key="user_id", ts=["ts", "event_id"], n_rows=5,
                       aggs=("sum", "avg"))
    out = sessionize(out, key="user_id", ts="ts", gap_s=1800)
    return out.select(
        "event_id", "user_id", "value", "purchase_value",
        "lag1_value", "lead1_value", "roll5_sum_value", "roll5_avg_value",
        "session_seq",
    )


@functools.cache
def driver_order_module():
    """``tools/driver_order.py``, loaded by path: works from any caller cwd
    and ``sys.path`` (the driver imports this module from anywhere)."""
    spec = importlib.util.spec_from_file_location(
        "fs2ds_driver_order",
        Path(__file__).resolve().parent / "tools" / "driver_order.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@functools.cache
def _ordered_registry() -> dict:
    from fs2_data_spark.queries import REGISTRY

    return {n: REGISTRY[n] for n in driver_order_module().driver_order(REGISTRY)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _tz(spark)
            return fn(spark, sf_dir)
        return run

    return {name: wrap(fn) for name, (fn, _sql) in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _ordered_registry().items()
            if sql is not None}
