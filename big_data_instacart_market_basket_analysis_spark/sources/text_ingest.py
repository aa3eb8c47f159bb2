"""Raw text-lines ingest path (S1-family, completing the format set).

``spark.read.text`` is the lowest-level source — one string column,
one row per line — and the front door for corpus files that arrive as
plain text (one document per line). This module proves the engine can
round-trip the documents table through a distributed text write and
parse it back losslessly: each line is ``doc_id<TAB>lang<TAB>source<TAB>
text`` and the re-read splits on the first three tabs only (document
text may contain any character except newline/tab in the fixture; a
production feed would escape or length-prefix).

Scale shape identical to the JSON path: the write is one file per
partition, the read is a single pass, and the parse is row-local
codegen (split with a limit) — no inference scan, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._staging import stage
from .loaders import load_table

def docs_text_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    tmp_base: str | None = None,
) -> DataFrame:
    """Write documents as tab-delimited text lines, re-read with
    ``spark.read.text``, and parse the four fields back with a
    limit-3 split (text keeps its inner spaces). Output hash-equals a
    projection of the parquet table."""
    return stage(
        "text_roundtrip",
        spark,
        sf_dir,
        lambda: _docs_text_roundtrip(spark, sf_dir, tmp_base),
    )


def _docs_text_roundtrip(
    spark: SparkSession, sf_dir: str, tmp_base: str | None
) -> DataFrame:
    # explicit NULL sentinel per field (classic TSV \N convention):
    # concat_ws silently DROPS null fields, which would shift every
    # later field on re-parse — encode nulls so the line always has
    # exactly three tabs, and decode the sentinel back on read.
    def enc(c: str) -> F.Column:
        return F.coalesce(F.col(c).cast("string"), F.lit("\\N"))

    def dec(c: F.Column) -> F.Column:
        return F.when(c == "\\N", F.lit(None)).otherwise(c)

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat_ws(
            "\t", enc("doc_id"), enc("lang"), enc("source"), enc("text")
        ).alias("value")
    )
    from ._scratch import roundtrip_path

    path = roundtrip_path(spark, "text", sf_dir, "documents", tmp_base)
    docs.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\t", 4)
    return raw.select(
        dec(parts.getItem(0)).cast("bigint").alias("doc_id"),
        dec(parts.getItem(1)).alias("lang"),
        dec(parts.getItem(2)).alias("source"),
        dec(parts.getItem(3)).alias("text"),
    )


ORACLE_DOCS_TEXT_ROUNDTRIP = """
docs_text_roundtrip AS (
  SELECT doc_id, lang, source, text FROM documents
)
"""
