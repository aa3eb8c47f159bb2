"""XML ingest path (S1-family, third input format — Spark 4 native
XML, no external package).

Same contract as the JSON path: events round-tripped through a
distributed XML write and re-read with a PINNED schema must hash-equal
the parquet-derived table. XML adds one format-specific hazard the
test pins down: element order within a row is not guaranteed, so the
read MUST be schema-driven, never inference-driven (inference on XML
costs a full extra scan and alphabetizes columns).

Doubles survive the round trip exactly only if written as exact
integers — XML serializes doubles as decimal strings, so ``value`` is
carried as value-millis (floor, bigint) and props as-is; the oracle
applies the identical transform to the parquet table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators._staging import stage
from .loaders import load_table

EVENTS_XML_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value_millis", T.LongType()),
    ]
)

def events_xml_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    tmp_base: str | None = None,
) -> DataFrame:
    return stage(
        "xml_roundtrip",
        spark,
        sf_dir,
        lambda: _events_xml_roundtrip(spark, sf_dir, tmp_base),
    )


def _events_xml_roundtrip(
    spark: SparkSession, sf_dir: str, tmp_base: str | None
) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("bigint").alias(
            "value_millis"
        ),
    )
    from ._scratch import roundtrip_path

    path = roundtrip_path(spark, "xml", sf_dir, "events", tmp_base)
    (
        events.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .save(path)
    )
    return (
        spark.read.schema(EVENTS_XML_SCHEMA)
        .format("xml")
        .option("rowTag", "event")
        .load(path)
    )


ORACLE_EVENTS_XML_ROUNDTRIP = """
events_xml_roundtrip AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type,
         CAST(floor(value * 1000) AS BIGINT) AS value_millis
  FROM events
)
"""
