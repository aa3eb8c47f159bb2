"""JSON-lines ingest path (S1-family, second input format).

The reference reads only CSV (F.py:16-30); a production event feed is
as likely to arrive as JSON lines. This module proves the engine's
read path is format-agnostic: events round-tripped through a
distributed JSON write and re-read with a PINNED schema must
hash-equal the parquet-derived table. Schema pinning is the scale
rule — ``spark.read.json`` without a schema runs a full inference
pass over the data (a second scan of 100 TB) and silently widens
types; with a pinned schema the read is one pass and the plan's
types are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators._staging import stage
from .loaders import load_table

EVENTS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

def events_json_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    tmp_base: str | None = None,
) -> DataFrame:
    """Write events as JSON lines (distributed, one file per
    partition), re-read with the pinned schema, and normalize
    timestamps to epoch millis. Doubles survive exactly (the JSON
    writer emits shortest-round-trip literals), so the result is
    oracle-checkable against the parquet table directly.
    """
    return stage(
        "json_roundtrip",
        spark,
        sf_dir,
        lambda: _events_json_roundtrip(spark, sf_dir, tmp_base),
    )


def _events_json_roundtrip(
    spark: SparkSession, sf_dir: str, tmp_base: str | None
) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    from ._scratch import roundtrip_path

    path = roundtrip_path(spark, "json", sf_dir, "events", tmp_base)
    events.write.mode("overwrite").json(path)
    return spark.read.schema(EVENTS_JSON_SCHEMA).json(path)


ORACLE_EVENTS_JSON_ROUNDTRIP = """
events_json_roundtrip AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value,
         props
  FROM events
)
"""


def variant_daily_rollup(events: DataFrame) -> DataFrame:
    """Spark 4 VARIANT semi-structured path: serialize each event to a
    JSON payload (``to_json``), parse it to the open VARIANT type
    (``parse_json``), and compute the daily rollup FROM TYPED PATH
    EXTRACTIONS only (``try_variant_get`` on a top-level field, a
    nested object path, and an array index) — the schema-on-read
    pattern an event-bus consumer runs when producers evolve payloads
    faster than tables. The DuckDB oracle aggregates the RAW columns,
    so the hash match proves the JSON -> VARIANT -> typed-extract
    round-trip is lossless end-to-end (doubles serialize and re-parse
    exactly; BIGINTs trivially).

    Scale: VARIANT parsing is per-row JVM work inside whole-stage
    codegen (no Python), extraction is shredding-friendly, and the
    rollup is one hash-agg on the extracted keys — the plan is the
    plain-column plan plus a map stage.

    Output per (event_type, day): n_events, cents, max_item0.
    """
    payload = F.to_json(
        F.struct(
            F.col("user_id").alias("user"),
            F.col("event_type").alias("type"),
            F.col("value").alias("value"),
            F.struct(
                F.date_format(
                    F.col("ts").cast("timestamp"), "yyyy-MM-dd"
                ).alias("day"),
                F.array(
                    F.col("event_id"), F.col("user_id") % 7
                ).alias("items"),
            ).alias("meta"),
        )
    )
    v = events.select(F.parse_json(payload).alias("v"))
    ext = v.select(
        F.try_variant_get("v", "$.type", "string").alias("event_type"),
        F.try_variant_get("v", "$.meta.day", "string").alias("day"),
        F.try_variant_get("v", "$.value", "double").alias("val"),
        F.try_variant_get("v", "$.meta.items[0]", "bigint").alias(
            "item0"
        ),
    )
    return ext.groupBy("event_type", "day").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.round(F.col("val") * 100, 0).cast("bigint")
        ).alias("cents"),
        F.max("item0").alias("max_item0"),
    )


ORACLE_VARIANT_ROLLUP = """
variant_daily_rollup AS (
  SELECT event_type,
         strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(max(event_id) AS BIGINT) AS max_item0
  FROM events
  GROUP BY 1, 2
)
"""
