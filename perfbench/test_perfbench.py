"""The benchmark's own checks: the seeded generator, and that the tracer
sees what a planted query is known to do.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import inputs


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def _multiset(path: str) -> Counter:
    return Counter(repr(r) for r in pq.read_table(path).to_pylist())


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 7, 4)
    b = inputs.generate(str(tmp_path / "b"), 7, 4)
    fa, fb = _files(a), _files(b)
    assert len(fa) == len(inputs.TABLES) * 4
    assert fa == fb


def test_different_seed_gives_new_path_and_order(tmp_path):
    a = inputs.generate(str(tmp_path), 7, 4)
    b = inputs.generate(str(tmp_path), 8, 4)
    assert a != b
    first = pq.read_table(f"{a}/lineitem.parquet").column(0).to_pylist()
    second = pq.read_table(f"{b}/lineitem.parquet").column(0).to_pylist()
    assert first != second


@pytest.mark.parametrize("table", inputs.TABLES)
def test_each_table_keeps_its_row_multiset(tmp_path, table):
    out = inputs.generate(str(tmp_path), 3, 4)
    assert _multiset(f"{out}/{table}.parquet") == _multiset(
        f"{inputs.BASE_DIR}/{table}.parquet"
    )


def test_check_passes_equal_results_and_names_a_mismatch(tmp_path):
    import pyarrow as pa

    from perfbench.check import check_query

    data = inputs.generate(str(tmp_path), 1, 2)
    oracle = "SELECT r_regionkey, r_name FROM region"
    base = pq.read_table(f"{inputs.BASE_DIR}/region.parquet")
    right = base.select(["r_name", "r_regionkey"])
    assert check_query(right, oracle, None, data) is None
    # float keys differ in type from the oracle's integers: the canonical
    # comparison must accept them
    as_float = right.set_column(1, "r_regionkey", right.column(1).cast(pa.float64()))
    assert check_query(as_float, oracle, None, data) is None
    wrong = right.set_column(
        1, "r_regionkey", pa.compute.add(right.column(1), pa.scalar(1, right.column(1).type))
    )
    assert check_query(wrong, oracle, None, data) == "value hash differs from oracle"
    assert "rows" in check_query(right.slice(1), oracle, None, data)
    assert check_query(right, None, 5, data) is None
    assert check_query(right, None, 4, data) == "5 rows, expected 4"
    assert check_query(right.slice(0, 0), None, None, data) == "empty result"


@pytest.fixture(scope="module")
def spark():
    from big_data_instacart_market_basket_analysis_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return get_spark("perfbench-test")


def _traced(spark, name, build, tracer=None):
    import time

    from perfbench.tracer import StatusTracer

    tracer = tracer or StatusTracer(spark)
    tracer.begin(name, "build")
    w0 = time.time()
    df = build()
    w1 = time.time()
    tracer.begin(name, "action")
    df.write.format("noop").mode("overwrite").save()
    counters, span = tracer.finish(name, (w0, w1), (w1, time.time()))
    return counters, span


def test_planted_shuffle_reports_shuffle_bytes(spark):
    c, span = _traced(
        spark,
        "planted_shuffle",
        lambda: spark.range(200_000, numPartitions=4)
        .selectExpr("id % 1009 AS k", "id")
        .groupBy("k")
        .count(),
    )
    assert c["shuffle_write_bytes"] > 0
    assert c["shuffle_read_bytes"] > 0
    assert c["exchanges"] >= 1
    assert c["action_jobs"] >= 1 and c["stages"] >= 2
    assert [s["kind"] for s in span["children"]] == ["build", "action"]


def test_rerun_counts_only_its_own_jobs(spark):
    from perfbench.tracer import StatusTracer

    tracer = StatusTracer(spark)

    def build():
        return spark.range(50_000, numPartitions=4).selectExpr("id % 7 AS k").groupBy("k").count()

    first, _ = _traced(spark, "rerun", build, tracer)
    second, _ = _traced(spark, "rerun", build, tracer)
    assert first["action_jobs"] >= 1
    assert second["action_jobs"] == first["action_jobs"]
    assert second["stages"] == first["stages"]


def test_untraced_query_between_traced_ones_is_not_counted(spark):
    from pyspark.sql import functions as F

    from perfbench.tracer import StatusTracer

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    def build():
        return (
            spark.range(20_000, numPartitions=4)
            .select(plus_one("id").alias("y"))
            .groupBy((F.col("y") % 13).alias("k"))
            .count()
        )

    tracer = StatusTracer(spark)
    first, _ = _traced(spark, "mixed", build, tracer)
    build().write.format("noop").mode("overwrite").save()  # not traced
    second, _ = _traced(spark, "mixed", build, tracer)
    assert first["exchanges"] >= 1 and first["python_nodes"] == 1
    for key in ("exchanges", "nl_joins", "python_nodes", "python_rows"):
        assert second[key] == first[key], key


def test_narrow_query_reports_no_shuffle_or_python(spark):
    c, _ = _traced(
        spark,
        "planted_narrow",
        lambda: spark.range(10_000, numPartitions=4).selectExpr("id * 2 AS x"),
    )
    assert c["shuffle_write_bytes"] == 0
    assert c["exchanges"] == 0
    assert c["python_nodes"] == 0


def test_planted_python_udf_reports_python_node(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    c, _ = _traced(
        spark,
        "planted_python",
        lambda: spark.range(1_000, numPartitions=2).select(plus_one("id").alias("y")),
    )
    assert c["python_nodes"] == 1
    assert c["python_rows"] == 1_000


def test_driver_gap_counts_union_of_stage_intervals():
    from perfbench.tracer import _intervals_cover

    # overlapping stages count once; parts outside the action are clipped
    assert _intervals_cover([(1, 3), (2, 4), (6, 12)], 0, 10) == 7
    assert _intervals_cover([], 0, 10) == 0
    assert _intervals_cover([(-5, 2), (1, 1.5)], 0, 10) == 2
