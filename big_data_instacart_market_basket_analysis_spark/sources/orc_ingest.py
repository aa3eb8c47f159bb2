"""ORC ingest path (S1-family, sixth input format).

Unlike the XML path (which must integer-encode doubles to survive
decimal-string serialization), ORC is a typed columnar format: the
round trip carries timestamps, doubles, and strings at full fidelity,
so the contract is the strongest of the ingest family — events
round-tripped through a distributed ORC write and re-read with the
PINNED schema must hash-equal the parquet-derived table COLUMN FOR
COLUMN, no encoding transform at all. (Schema-driven read for the same
reason as XML/CSV: inference costs an extra scan.)

Scale: ORC writes are per-partition and splittable on read — the same
ingestion geometry as parquet; at 100 TB this path is how an
ORC-standardized lake (Hive/Trino estates) feeds the engine without a
conversion hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators._staging import stage
from ._scratch import roundtrip_path
from .loaders import load_table

_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def events_orc_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    tmp_base: str | None = None,
) -> DataFrame:
    """Write-once-per-session contract: the staging write happens on
    first touch per (session, sf_dir) — ``stage`` returns
    the same lazy reader afterwards — and the staging dir is
    per-application (see ``_scratch.scratch_dir``), so concurrent
    drivers can never overwrite files under each other's readers."""
    return stage(
        "orc_roundtrip",
        spark,
        sf_dir,
        lambda: _events_orc_roundtrip(spark, sf_dir, tmp_base),
    )


def _events_orc_roundtrip(
    spark: SparkSession, sf_dir: str, tmp_base: str | None
) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(*_COLS)
    path = roundtrip_path(spark, "orc", sf_dir, "events", tmp_base)
    events.write.mode("overwrite").orc(path)
    return spark.read.schema(events.schema).orc(path).select(*_COLS)


ORACLE_EVENTS_ORC_ROUNDTRIP = """
events_orc_roundtrip AS (
  SELECT event_id, ts, user_id, event_type, value, props FROM events
)
"""
