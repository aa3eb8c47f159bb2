"""The benchmark's workloads: named query lists from ``queries()``.

Each workload stresses different layers of the engine (see
``perfbench/README.md`` for the layer -> metric -> workload map):

* ``basket`` -- the paper's pipeline: scans, shuffle aggregations,
  tree training built on the driver, and the only writes; no Python.
* ``text_dedup`` -- per-row CPU-heavy expressions, pair-forming
  self-joins, the only Python (Arrow) nodes, and session-staged
  artifacts shared across queries.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    "basket": (
        "ingest_orders",
        "product_features",
        "frequent_pairs",
        "candidates",
        "proxy_submission",
        "ml_rf_verified",
    ),
    "text_dedup": (
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_ppjoin",
        "text_quality",
        "media_sniff_dims",
        "media_phash_dedup",
    ),
}

#: queries whose action is a file sink instead of the noop sink; the
#: submission CSV is the reference's output table (F.py:312-315)
SINKS: dict[str, str] = {
    "candidates": "parquet",
    "proxy_submission": "csv",
}

#: row counts for the queries that have no oracle; every seed permutes
#: the same rows, so the count must not change from seed to seed
EXPECTED_ROWS: dict[str, int] = {"media_phash_dedup": 2}
