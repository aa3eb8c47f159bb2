"""Round-8 regression pins: the r7 verdict tasks and ADVICE items.

Each test pins one fix so it cannot silently regress:
- pair_substitutes sf-aware popularity floor (verdict task 3) with an
  engineered fixture exercising ALL THREE relation labels — the r7
  board's green row was vacuous (empty grid at fixture scale).
- products_only_prior planted non-empty EXCEPT (verdict task 3b).
- bench_diff fail-open fix (ADVICE 1): missing planboard artifacts now
  yield gate UNKNOWN, never PASS, when a drift is flagged.
- BLEU pair-driven n-frame (ADVICE 2): a reference with <2 tokens
  still yields p2 = 0.0 (candidate-denominator), not a NULL row.
- join_order_advisor dominance-count rank (ADVICE 5): same ranking as
  the retired global window, no Window operator in the plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    basket,
    profiling,
    relational,
    textstats,
)
from big_data_instacart_market_basket_analysis_spark.plans.instacart import (
    InstacartTables,
)


def _tables(spark, baskets: dict[int, list[int]], n_products: int):
    orders = spark.createDataFrame(
        [(oid, 1, 0, 1, 0, 0, 0) for oid in baskets],
        "orderID int, userID int, eval_set int, order_number int,"
        " order_dow int, order_hod int, days_since int",
    )
    op = spark.createDataFrame(
        [
            (oid, pid, i + 1, 0)
            for oid, pids in baskets.items()
            for i, pid in enumerate(pids)
        ],
        "orderID int, productID int, cart_order int, reordered int",
    )
    products = spark.createDataFrame(
        [(p, "a", "d") for p in range(1, n_products + 1)],
        "productID int, aisle_id string, dep_id string",
    )
    return InstacartTables(orders=orders, order_products=op, products=products)


def test_pair_substitutes_all_three_labels(spark):
    """50 engineered baskets where the z-test must fire in both
    directions: (1,2) never co-occur despite e=12 -> substitute;
    (3,4) always co-occur vs e=2 -> complement; (5,6) co-occur
    exactly at expectation -> independent. The popularity floor is
    max(10, 50 DIV 500) = 10, so every planted product (n >= 10)
    enters the grid — the r7 fixed floor of 30 would have emptied it."""
    baskets = {}
    for oid in range(1, 51):
        items = []
        if oid <= 30:
            items.append(1)
        else:
            items.append(2)
        if oid <= 10:
            items += [3, 4, 5]
        if 9 <= oid <= 18:
            items.append(6)
        baskets[oid] = items
    t = _tables(spark, baskets, 6)
    got = {
        (r["p1"], r["p2"]): (r["obs"], r["expected"], r["relation"])
        for r in basket.pair_substitutes(t).collect()
    }
    assert got[(1, 2)] == (0, 12.0, "substitute")
    assert got[(3, 4)] == (10, 2.0, "complement")
    assert got[(5, 6)] == (2, 2.0, "independent")
    # every planted product is popular: full same-aisle grid present
    assert len(got) == 15


def test_pair_substitutes_nonvacuous_at_oracle_sf(spark):
    """At the driver's differential scale the grid must be NON-empty
    (the de-vacuification itself)."""
    from big_data_instacart_market_basket_analysis_spark.plans.instacart import (
        instacart_tables,
    )
    from tests.conftest import SF_ORACLE

    df = basket.pair_substitutes(instacart_tables(spark, SF_ORACLE))
    assert df.limit(1).count() == 1


def test_products_only_prior_planted(spark):
    """Prior-only products survive the EXCEPT; shared ones do not."""
    baskets = {1: [1, 2], 2: [2, 3]}
    t = _tables(spark, baskets, 3)
    # move basket 2 to the train split
    orders = t.orders.withColumn(
        "eval_set",
        F.when(F.col("orderID") == 2, F.lit(1)).otherwise(F.lit(0)),
    )
    t2 = InstacartTables(
        orders=orders, order_products=t.order_products, products=t.products
    )
    got = {r["productID"] for r in relational.products_only_prior(t2).collect()}
    assert got == {1}


def test_bench_diff_unknown_when_boards_missing(tmp_path):
    """A flagged drift with no planboard to adjudicate must yield
    UNKNOWN, not PASS (the r7 fail-open)."""
    import json as _json

    import bench

    prev = tmp_path / "BENCH_DETAIL_r99.json"
    prev.write_text(_json.dumps({"queries": {"q_slow": 1.0}}))
    diff = bench.bench_diff(
        {"q_slow": 10.0},
        prev_path=str(prev),
        cur_board={"plans": {}},
        prev_board={"plans": {}},
    )
    assert diff["gate"].startswith("UNKNOWN")
    assert diff["unadjudicated"] == ["q_slow"]
    # with boards present and the plan changed, it still FAILS
    board_a = {"plans": {"q_slow": {"rules": {}, "global_windows": 0,
                                    "shuffles": 1}}}
    board_b = {"plans": {"q_slow": {"rules": {}, "global_windows": 0,
                                    "shuffles": 5}}}
    diff2 = bench.bench_diff(
        {"q_slow": 10.0},
        prev_path=str(prev),
        cur_board=board_b,
        prev_board=board_a,
    )
    assert diff2["gate"] == "FAIL"
    # and an unflagged run passes even without boards
    diff3 = bench.bench_diff(
        {"q_slow": 1.01}, prev_path=str(prev), cur_board=None, prev_board=None
    )
    assert diff3["gate"] == "PASS"


def test_boardtail_diff_gates_slow_lines(tmp_path):
    """The board-tail gate (r7 verdict task 1) must: restrict to the
    >5s tail, flag a planted regression, escalate to FAIL on a plan
    change, emit UNKNOWN when boards are missing, and carry the named
    watchlist."""
    import json as _json

    import bench

    prev = tmp_path / "DRIVERSIM_r99.json"
    prev.write_text(_json.dumps({"results": {
        "stream_slow": {"sec": 10.0, "status": "HASH-OK"},
        "fast_one": {"sec": 0.3, "status": "HASH-OK"},
        "ml_gbm_perm_importance": {"sec": 6.0, "status": "HASH-OK"},
    }}))
    plans_same = {"plans": {
        "stream_slow": {"rules": {}, "global_windows": 0, "shuffles": 2},
    }}
    plans_diff = {"plans": {
        "stream_slow": {"rules": {}, "global_windows": 0, "shuffles": 9},
    }}
    cur = {"stream_slow": 30.0, "fast_one": 0.4,
           "ml_gbm_perm_importance": 5.5}
    d = bench.boardtail_diff(cur, prev_path=str(prev),
                             cur_board=plans_same, prev_board=plans_same)
    assert d["gate"] == "PASS" and list(d["flagged"]) == ["stream_slow"]
    assert "fast_one" not in d["tail"]  # sub-threshold line not gated
    assert "ml_gbm_perm_importance" in d["watch"]
    d2 = bench.boardtail_diff(cur, prev_path=str(prev),
                              cur_board=plans_diff, prev_board=plans_same)
    assert d2["gate"] == "FAIL" and d2["failed"] == ["stream_slow"]
    d3 = bench.boardtail_diff(cur, prev_path=str(prev),
                              cur_board={"plans": {}},
                              prev_board={"plans": {}})
    assert d3["gate"].startswith("UNKNOWN")


def test_bleu_pair_driven_n_frame(spark):
    """Reference with one token: the n=2 row must still exist with the
    CANDIDATE's bigram denominator, so p2 = 0.0 (not NULL) and the
    ROUGE twin reports the candidate's true bigram count."""
    docs = spark.createDataFrame(
        [(0, "a"), (1, "x y z")], "doc_id long, text string"
    )
    row = textstats.bleu_pairs(docs).collect()[0]
    assert row["ref_len"] == 1 and row["cand_len"] == 3
    assert row["p2"] == 0.0  # was NULL before the n-frame fix
    assert row["bleu2"] is None  # unsmoothed: p2 = 0 -> NULL
    r = textstats.rouge_pairs(docs).collect()[0]
    assert r["n2_ref"] == 0 and r["n2_cand"] == 2
    assert r["rouge2_f"] is None


def test_join_order_advisor_rank_no_window(spark):
    """Dominance-count rank: 6 unique ranks, the two Cartesian-leading
    permutations last, and no Window operator in the physical plan."""
    customer = spark.createDataFrame(
        [(i,) for i in range(10)], "c_custkey long"
    )
    orders = spark.createDataFrame(
        [(i, i % 10) for i in range(100)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(i % 100,) for i in range(500)], "l_orderkey long"
    )
    df = profiling.join_order_advisor(customer, orders, lineitem)
    rows = {r["perm"]: r["rank"] for r in df.collect()}
    assert sorted(rows.values()) == [1, 2, 3, 4, 5, 6]
    assert {rows["C*L*O"], rows["L*C*O"]} == {5, 6}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
