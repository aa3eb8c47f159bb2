"""SQL front-end: the whole engine surface as temp views + spark.sql.

The reference has no query language (SURVEY.md §3); the engine gets one
for free from Catalyst. ``register_all`` publishes the fixture tables,
the Instacart-shaped logical views, and every derived feature table as
temp views, so a user can drive the full surface with ANSI SQL:

    register_all(spark, sf_dir)
    spark.sql("SELECT * FROM user_product_features WHERE numorders > 2")

Views are lazy logical plans — registering them costs nothing; each
spark.sql query is planned end-to-end through the same Catalyst
pipeline as the DataFrame builders (one optimizer, two dialects), so
filter pushdown through a view chain works exactly as it does on the
programmatic path.

The two ``sql_*`` queries below run through the SQL *parser* (not the
DataFrame DSL) and are oracle-checked — pinning that the declared view
semantics and the SQL text agree with DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import basket as _bask
from ..operators import candidates as _cand
from ..operators import features as _feat
from ..operators._staging import stage
from ..sources.loaders import register_views
from .instacart import instacart_tables


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register fixture tables, Instacart views, and derived features.
    Registration is idempotent but not free (re-plans ~16 views and
    re-enters instacart_tables per call), so it is staged per (session,
    sf_dir)."""
    stage("sql_views", spark, sf_dir, lambda: _register(spark, sf_dir))


def _register(spark: SparkSession, sf_dir: str) -> None:
    register_views(spark, sf_dir)  # raw fixtures
    t = instacart_tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("ic_orders")
    t.order_products.createOrReplaceTempView("ic_order_products")
    t.products.createOrReplaceTempView("ic_products")
    t.prior_products.createOrReplaceTempView("ic_prior_products")
    t.train_products.createOrReplaceTempView("ic_train_products")
    _feat.product_features(t).createOrReplaceTempView("product_features_v")
    _feat.users_final(t).createOrReplaceTempView("users_final_v")
    _feat.user_product_features(t).createOrReplaceTempView(
        "user_product_features_v"
    )
    _cand.candidates_staged(t).createOrReplaceTempView("candidates_v")
    _bask.frequent_pairs(t).createOrReplaceTempView("frequent_pairs_v")
    _bask.pair_rules(t).createOrReplaceTempView("pair_rules_v")
    # [EXT] derived views (documents/events) — registered with the same
    # per-table failure tolerance as the raw fixtures: a missing
    # documents table must not take down Instacart SQL.
    try:
        from ..operators import textstats as _text

        docs = spark.table("documents")
        _text.token_counts(docs).createOrReplaceTempView("token_counts_v")
        _text.quality_scores(docs).createOrReplaceTempView(
            "quality_scores_v"
        )
        _text.corpus_prep(docs).createOrReplaceTempView("corpus_prep_v")
    except Exception:
        pass


def sql_dept_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-department rollup over product features, written in SQL."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT dep_id,
               count(*)                           AS n_products,
               CAST(sum(numorders) AS BIGINT)     AS total_orders,
               sum(numreorders) / sum(numorders)  AS overall_reorder_ratio
        FROM product_features_v
        GROUP BY dep_id
        """
    )


# overall_reorder_ratio is a ratio of integral sums (exact in doubles at
# any aggregation order) — never an avg over arbitrary doubles, whose
# summation order differs between engines/partitionings.
ORACLE_SQL_DEPT_STATS = """
sql_dept_stats AS (
  SELECT dep_id,
         count(*) AS n_products,
         CAST(sum(numorders) AS BIGINT) AS total_orders,
         sum(numreorders) / CAST(sum(numorders) AS DOUBLE)
           AS overall_reorder_ratio
  FROM product_features
  GROUP BY dep_id
)
"""


def sql_dept_top_reordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-reordered products per department — SQL window rank
    over the feature view (deterministic tiebreak on productID)."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT dep_id, productID, reorder_ratio, rnk FROM (
          SELECT dep_id, productID, reorder_ratio,
                 row_number() OVER (
                   PARTITION BY dep_id
                   ORDER BY reorder_ratio DESC, productID) AS rnk
          FROM product_features_v
        ) WHERE rnk <= 3
        """
    )


def sql_corpus_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus-prep yield, written in SQL over the [EXT]
    views — survivors, kept tokens, and mean quality (ratio of sums,
    rounded) after the full quality + dedup pass."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT lang,
               count(*)                      AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(sum(quality_score) / count(*), 4) AS avg_quality
        FROM corpus_prep_v
        GROUP BY lang
        """
    )


ORACLE_SQL_CORPUS_LANG_STATS = """
sql_corpus_lang_stats AS (
  SELECT lang,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         round(sum(quality_score) / count(*), 4) AS avg_quality
  FROM corpus_prep
  GROUP BY lang
)
"""


ORACLE_SQL_DEPT_TOP_REORDERED = """
sql_dept_top_reordered AS (
  SELECT dep_id, productID, reorder_ratio, rnk FROM (
    SELECT dep_id, productID, reorder_ratio,
           CAST(row_number() OVER (
             PARTITION BY dep_id
             ORDER BY reorder_ratio DESC, productID) AS INT) AS rnk
    FROM product_features
  ) WHERE rnk <= 3
)
"""


def sql_segment_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain SQL: session-funnel conversion rate by customer
    market segment — events sessionized through the funnel view, joined
    to the customer dim, aggregated per segment, all via spark.sql.
    Rate = ratio of integral counts (hash-stable)."""
    register_all(spark, sf_dir)
    from ..sources.loaders import load_table
    from ..streaming import events as _ev

    _ev.session_funnel(
        load_table(spark, sf_dir, "events")
    ).createOrReplaceTempView("session_funnel_v")
    return spark.sql(
        """
        SELECT c.c_mktsegment AS segment,
               count(*)                                    AS n_sessions,
               CAST(sum(f.converted) AS BIGINT)            AS n_converted,
               CAST(sum(f.converted) AS BIGINT) / CAST(count(*) AS DOUBLE)
                                                           AS conversion_rate
        FROM session_funnel_v f
        JOIN customer c ON c.c_custkey = f.user_id
        GROUP BY 1
        """
    )


ORACLE_SQL_SEGMENT_CONVERSION = """
sql_segment_conversion AS (
  SELECT c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(f.converted) AS BIGINT) AS n_converted,
         CAST(sum(f.converted) AS BIGINT) / CAST(count(*) AS DOUBLE)
           AS conversion_rate
  FROM session_funnel f
  JOIN customer c ON c.c_custkey = f.user_id
  GROUP BY 1
)
"""


def sql_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily event counts via a RECURSIVE CTE date spine
    (Spark 4 recursive WITH): generate every calendar day between the
    corpus min and max, left-join real daily counts, zero-fill.

    The spine is driver-free pure SQL. Each recursion level is a
    SEPARATE driver-coordinated UnionLoop iteration (~100 ms of
    planning/scheduling each, serial by construction), so the
    recursion steps by WEEK anchors — depth ceil(range/7) instead of
    range — and each anchor explodes into its (<= 7) days with
    ``sequence``; the day set, and therefore the result, is identical
    to the day-stepped recursion (r9 optimization: 30 levels -> 5 at
    the fixture's 30-day span, 4.5 s -> sub-second; guide §1.2 —
    remove serial driver rounds before tuning anything else). At
    warehouse scale the spine is tiny and broadcast, so gap-filling
    costs one hash-agg over events plus a broadcast join.
    """
    register_all(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE spine AS (
          SELECT CAST(min(ts) AS DATE) AS day FROM events
          UNION ALL
          SELECT date_add(day, 7) AS day FROM spine
          WHERE date_add(day, 7)
                <= (SELECT CAST(max(ts) AS DATE) FROM events)
        ),
        days AS (
          SELECT explode(sequence(
                   day,
                   least(date_add(day, 6),
                         (SELECT CAST(max(ts) AS DATE) FROM events))
                 )) AS day
          FROM spine
        ),
        daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY 1
        )
        SELECT s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n_events
        FROM days s LEFT JOIN daily d ON s.day = d.day
        """
    )


ORACLE_DAILY_GAPFILL = """
spine AS (
  SELECT CAST(min(ts) AS DATE) AS day FROM events
  UNION ALL
  SELECT day + INTERVAL 1 DAY FROM spine
  WHERE day < (SELECT CAST(max(ts) AS DATE) FROM events)
),
gdaily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
),
sql_daily_gapfill AS (
  SELECT s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n_events
  FROM spine s LEFT JOIN gdaily d ON s.day = d.day
)
"""


def sql_urgent_only_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL parser: customers
    who placed at least one 1-URGENT order and never a 5-LOW one.

    Catalyst rewrites both correlated subqueries into joins (EXISTS ->
    left-semi, NOT EXISTS -> left-anti) — the plan shape a hand-written
    DataFrame version would use, proving the SQL dialect surface
    (subquery decorrelation) matches the programmatic path at scale:
    two hash joins on o_custkey, no per-row subquery execution.
    """
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '5-LOW')
        """
    )


ORACLE_SQL_URGENT_ONLY = """
sql_urgent_only AS (
  SELECT c_custkey, c_name, c_mktsegment
  FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '5-LOW')
)
"""


def sql_part_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped supplier-relationship count with a NOT IN
    subquery — the one plan that exercises Catalyst's null-aware
    anti-join (the broadcast build carries isNullAware=true): suppliers
    with negative account balance are excluded the way Q16 excludes
    complaint suppliers.

    Plan shape at scale (verified via explain): the acctbal filter is
    pushed into the supplier scan and the tiny exclusion set
    broadcasts; (partkey, suppkey) DISTINCT runs BEFORE the part join
    so the join input is the pair set, not raw lineitems; part
    broadcasts as a dim. The count(DISTINCT) expands to the standard
    two-phase expand/agg. No row ordering — the driver hash is
    order-insensitive.
    """
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_brand, p_size,
               count(DISTINCT ps.l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON p_partkey = ps.l_partkey
        WHERE ps.l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
        """
    )


ORACLE_SQL_PART_SUPPLIER_STATS = """
sql_part_supplier_stats AS (
  SELECT p_brand, p_size,
         CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
  JOIN part ON p_partkey = ps.l_partkey
  WHERE ps.l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
  GROUP BY p_brand, p_size
)
"""


def sql_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated SCALAR subquery: per-brand revenue
    from lineitems whose quantity is below half that part's average
    quantity. Catalyst decorrelates the scalar aggregate subquery into
    a per-partkey pre-aggregation joined back to the probe — no
    per-row subquery execution — which is the third decorrelation
    family on the board (EXISTS -> semi, NOT IN -> null-aware anti,
    scalar-agg -> aggregate join). Revenue sums in exact DECIMAL
    (hash-stable), emitted as double.
    """
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_brand,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                    AS DOUBLE)             AS small_qty_revenue,
               count(*)                    AS n_lineitems
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity <
              (SELECT 0.5 * avg(l2.l_quantity)
               FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        GROUP BY p_brand
        """
    )


ORACLE_SQL_SMALL_QTY_REVENUE = """
sql_small_qty_revenue AS (
  SELECT p_brand,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           AS small_qty_revenue,
         CAST(count(*) AS BIGINT) AS n_lineitems
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity <
        (SELECT 0.5 * avg(l2.l_quantity)
         FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
  GROUP BY p_brand
)
"""


def sql_pipe_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators): linear FROM ->
    WHERE -> AGGREGATE flow through the parser — same Catalyst plan as
    the nested-SELECT form, pinned by the oracle running classic SQL
    on DuckDB. Money sums in exact DECIMAL (hash-stable)."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderpriority = '1-URGENT'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                          AS DOUBLE) AS total_price
           GROUP BY o_orderstatus
        """
    )


ORACLE_SQL_PIPE_PRIORITY_STATS = """
sql_pipe_priority_stats AS (
  SELECT o_orderstatus,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS total_price
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
  GROUP BY o_orderstatus
)
"""


def sql_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join: each customer's top-2 orders
    by price. Catalyst plans the correlated limit as a
    LateralJoin-rewritten window/top-k — per-row subquery semantics
    without per-row execution; DuckDB replays the identical LATERAL.
    Deterministic tiebreak (price DESC, orderkey)."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
        FROM customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        """
    )


ORACLE_SQL_LATERAL_TOP_ORDERS = """
sql_lateral_top_orders AS (
  SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
  FROM customer c JOIN LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ON true
)
"""


#: synthetic 7-ary hierarchy over customers: parent(c) = (c-1) DIV 7,
#: rooted at customer 0 — gives the recursive CTE a real multi-level
#: tree without needing a parent column in the fixture.
CHAIN_FANOUT = 7


def sql_customer_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``) walking each
    customer's ancestor chain to the root of a synthetic 7-ary
    hierarchy; returns per-customer depth and chain length.

    Iterative transitive closure expressed declaratively — the SQL
    twin of the DataFrame-side label-propagation loops (PageRank,
    connected components). Spark executes the recursion as iterated
    union steps; rows stop recursing once they hit the root, so each
    step shrinks. DuckDB replays the identical recursion — fixpoint
    equality is exactly what the hash checks.
    """
    register_all(spark, sf_dir)
    q = f"""
        WITH RECURSIVE up AS (
          SELECT c_custkey, c_custkey AS anc, 0 AS depth FROM customer
          UNION ALL
          SELECT c_custkey,
                 CAST(floor((anc - 1) / {CHAIN_FANOUT}) AS BIGINT) AS anc,
                 depth + 1 AS depth
          FROM up WHERE anc > 0
        )
        SELECT c_custkey,
               CAST(max(depth) AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS chain_len
        FROM up GROUP BY c_custkey
    """
    return spark.sql(q)


ORACLE_SQL_CUSTOMER_CHAIN = f"""
up AS (
  SELECT c_custkey, c_custkey AS anc, 0 AS depth FROM customer
  UNION ALL
  SELECT c_custkey,
         CAST(floor((anc - 1) / {CHAIN_FANOUT}) AS BIGINT) AS anc,
         depth + 1 AS depth
  FROM up WHERE anc > 0
),
sql_customer_chain AS (
  SELECT c_custkey,
         CAST(max(depth) AS BIGINT) AS depth,
         CAST(count(*) AS BIGINT) AS chain_len
  FROM up GROUP BY c_custkey
)
"""


#: session-variable / named-parameter constants (mirrored into the
#: oracle as inlined literals).
QTY_FLOOR = 48
MAX_DISCOUNT = 0.05


def sql_var_param_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables + parameterized queries, together:
    the quantity floor arrives via DECLARE VARIABLE / SET VAR (session
    state the SQL text references by name) and the discount cap via a
    named parameter (``spark.sql(..., args=...)`` — injection-safe
    binding, no string interpolation). Both are resolved at plan time
    to constants, so predicate pushdown to the scan is identical to a
    hand-inlined literal — session state costs nothing at execution.
    """
    register_all(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE qty_floor INT DEFAULT 0")
    spark.sql(f"SET VAR qty_floor = {QTY_FLOOR}")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(l_quantity) AS BIGINT) AS total_qty
        FROM lineitem
        WHERE l_quantity >= qty_floor AND l_discount <= :max_disc
        GROUP BY l_returnflag
        """,
        args={"max_disc": MAX_DISCOUNT},
    )


def sql_dynamic_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 dynamic SQL, injection-safe: ``EXECUTE IMMEDIATE``
    runs a templated statement whose TABLE NAME arrives through
    ``IDENTIFIER(?)`` and whose predicate value through a positional
    ``USING`` binding — the catalog-safe way multi-tenant tooling
    templates "same report, different table" without string
    interpolation (an interpolated name is an injection vector and
    invisible to the analyzer; IDENTIFIER binds it as a first-class
    identifier). The inner statement resolves to the ordinary
    analyzed plan, so pushdown/pruning behave exactly as if the query
    had been written literally — proven by the hash against the
    hand-resolved oracle.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       AS BIGINT) AS cents
           FROM IDENTIFIER(?) WHERE o_orderstatus = ? GROUP BY 1'
          USING 'orders', 'F'
        """
    )


ORACLE_SQL_DYNAMIC_IDENTIFIER = """
sql_dynamic_identifier AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
)
"""


ORACLE_SQL_VAR_PARAM = f"""
sql_var_param_revenue AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS total_qty
  FROM lineitem
  WHERE l_quantity >= {QTY_FLOOR} AND l_discount <= {MAX_DISCOUNT}
  GROUP BY l_returnflag
)
"""


def sql_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-syntax PIVOT then UNPIVOT round-trip (parser surface the
    DataFrame ``groupBy().pivot()`` path does not touch): quantity
    totals widen by return flag, then melt back to long — proving the
    two relational reshapes are lossless inverses. Both are one Expand
    + hash-agg under Catalyst; output grids are tiny at any scale."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM (
          SELECT * FROM (
            SELECT l_linestatus, l_returnflag, l_quantity FROM lineitem
          )
          PIVOT (CAST(sum(l_quantity) AS BIGINT)
                 FOR l_returnflag IN ('N' AS qty_n, 'R' AS qty_r,
                                      'A' AS qty_a))
        )
        UNPIVOT (qty FOR flag IN (qty_n, qty_r, qty_a))
        """
    )


ORACLE_SQL_PIVOT = """
sql_pivot_returnflag AS (
  SELECT l_linestatus,
         'qty_' || lower(l_returnflag) AS flag,
         CAST(sum(l_quantity) AS BIGINT) AS qty
  FROM lineitem
  WHERE l_returnflag IN ('N', 'R', 'A')
  GROUP BY 1, 2
)
"""


def sql_udf_discount_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language scalar UDFs (Spark 4 ``CREATE FUNCTION ... RETURN
    expr``): the function body is inlined into the plan at resolution
    time — it is a parser/catalog feature, NOT a Python UDF; the
    expression stays whole-stage-codegen'd JVM-side, which is why it
    is safe in a 100 TB scan while a Python row-UDF is not. The oracle
    replays the hand-inlined expression — hash equality proves the
    inlining semantics."""
    register_all(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION discount_tier(price DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN price >= 4000 THEN 'gold'
                    WHEN price >= 1500 THEN 'silver'
                    ELSE 'bronze' END
        """
    )
    return spark.sql(
        """
        SELECT discount_tier(CAST(o_totalprice AS DOUBLE)) AS tier,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_price
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


ORACLE_SQL_UDF_TIERS = """
sql_udf_discount_tiers AS (
  SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) >= 4000 THEN 'gold'
              WHEN CAST(o_totalprice AS DOUBLE) >= 1500 THEN 'silver'
              ELSE 'bronze' END AS tier,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS total_price
  FROM orders
  GROUP BY 1
)
"""


def sql_table_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language TABLE function (Spark 4 ``CREATE FUNCTION ...
    RETURNS TABLE (...) RETURN SELECT``): the overlapping document
    chunker as a catalog-registered SQL UDTF invoked with LATERAL —
    the declarative twin of ``textstats.chunk_documents_udtf``. Like
    the scalar SQL UDF, the body is inlined at resolution time (a
    parser/catalog feature, not a Python worker), so the expansion
    stays whole-stage-codegen'd JVM-side — the 100 TB-safe way to
    package a reusable 1->N row transform for SQL users.

    Four-way agreement: native expressions (``docs_chunks``), Python
    UDTF (``docs_chunks_udtf``), this SQL table function, and the
    DuckDB oracle all share one hash.
    """
    from big_data_instacart_market_basket_analysis_spark.operators.textstats import (
        CHUNK_SIZE_WORDS,
        CHUNK_STRIDE_WORDS,
    )

    register_views(spark, sf_dir)
    spark.sql(
        rf"""
        CREATE OR REPLACE TEMPORARY FUNCTION chunk_docs_sqltf(
            did BIGINT, txt STRING)
        RETURNS TABLE (doc_id BIGINT, chunk_id BIGINT, n_words INT,
                       chunk_md5 STRING)
        RETURN
          SELECT did AS doc_id,
                 CAST(start / {CHUNK_STRIDE_WORDS} AS BIGINT)
                   AS chunk_id,
                 CAST(size(slice(w, start + 1, {CHUNK_SIZE_WORDS}))
                   AS INT) AS n_words,
                 md5(array_join(
                     slice(w, start + 1, {CHUNK_SIZE_WORDS}), ' '))
                   AS chunk_md5
          FROM (SELECT split(lower(txt), '\\s+') AS w)
          LATERAL VIEW explode(
              sequence(0, size(w) - 1, {CHUNK_STRIDE_WORDS})) AS start
        """
    )
    return spark.sql(
        "SELECT c.* FROM documents, LATERAL chunk_docs_sqltf(doc_id,"
        " text) c"
    )


def sql_clustered_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY / SORT BY through the parser: the write-side
    clustering clauses (hash-exchange on the distribute key, per-
    partition sort — NOT a global sort). The result SET is unchanged
    (the oracle is the plain projection; the compare is order-
    insensitive), which is the point: these clauses shape the
    physical layout only. A plan test pins the Exchange+Sort."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderkey, o_totalprice
        FROM orders
        DISTRIBUTE BY o_orderstatus SORT BY o_orderkey
        """
    )


ORACLE_SQL_CLUSTERED_ORDERS = """
sql_clustered_orders AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
)
"""


def sql_filter_clause_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI aggregate FILTER clauses + any_value: conditional
    aggregation without CASE scaffolding — one hash-agg evaluates
    every filtered aggregate in a single pass (the multi-metric
    report shape). DuckDB shares the syntax verbatim."""
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                 AS n_urgent,
               count(*) FILTER (WHERE o_totalprice > 3000) AS n_large,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                    FILTER (WHERE o_orderpriority = '1-URGENT')
                    AS DOUBLE) AS urgent_price
        FROM orders
        GROUP BY o_orderstatus
        """
    )


ORACLE_SQL_FILTER_CLAUSE = """
sql_filter_clause_stats AS (
  SELECT o_orderstatus,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
              AS BIGINT) AS n_urgent,
         CAST(count(*) FILTER (WHERE o_totalprice > 3000)
              AS BIGINT) AS n_large,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
              FILTER (WHERE o_orderpriority = '1-URGENT')
              AS DOUBLE) AS urgent_price
  FROM orders
  GROUP BY o_orderstatus
)
"""


def sql_setops_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL set operators through the parser: the distinct part sets of
    the two calendar halves of the lineitem ship window compared with
    INTERSECT / EXCEPT (both directions) plus a LEFT SEMI JOIN-syntax
    restriction — the four set-algebra clauses the DataFrame API
    spells as intersect()/exceptAll()/join("leftsemi").

    Catalyst compiles INTERSECT/EXCEPT to left-semi/left-anti joins
    over distinct-collapsed inputs — the same distinct+join shape the
    IND-discovery operator hand-builds, so the SQL surface and the
    programmatic path share one physical strategy (two hash-aggs +
    one join per set op, shuffling only distinct keys).

    Output: (set_op, n_parts) — one row per operator exercised.
    """
    register_all(spark, sf_dir)
    return spark.sql(
        """
        WITH mid AS (
          SELECT date_add(CAST(min(l_shipdate) AS DATE),
                          CAST(datediff(CAST(max(l_shipdate) AS DATE),
                                        CAST(min(l_shipdate) AS DATE)) / 2
                               AS INT)) AS m
          FROM lineitem
        ),
        h1 AS (SELECT DISTINCT l_partkey FROM lineitem, mid
               WHERE CAST(l_shipdate AS DATE) < m),
        h2 AS (SELECT DISTINCT l_partkey FROM lineitem, mid
               WHERE CAST(l_shipdate AS DATE) >= m)
        SELECT 'intersect' AS set_op, count(*) AS n_parts
        FROM (SELECT l_partkey FROM h1
              INTERSECT SELECT l_partkey FROM h2)
        UNION ALL
        SELECT 'h1_except_h2', count(*)
        FROM (SELECT l_partkey FROM h1
              EXCEPT SELECT l_partkey FROM h2)
        UNION ALL
        SELECT 'h2_except_h1', count(*)
        FROM (SELECT l_partkey FROM h2
              EXCEPT SELECT l_partkey FROM h1)
        UNION ALL
        SELECT 'semi_join_expensive', count(*)
        FROM (SELECT h1.l_partkey FROM h1
              LEFT SEMI JOIN part p
                ON h1.l_partkey = p.p_partkey
               AND p.p_retailprice > 1500)
        """
    )


ORACLE_SQL_SETOPS = """
sqs_mid AS (
  SELECT CAST(min(l_shipdate) AS DATE)
         + CAST(date_diff('day', CAST(min(l_shipdate) AS DATE),
                          CAST(max(l_shipdate) AS DATE)) // 2 AS INT) AS m
  FROM lineitem
),
sqs_h1 AS (
  SELECT DISTINCT l_partkey FROM lineitem, sqs_mid
  WHERE CAST(l_shipdate AS DATE) < m
),
sqs_h2 AS (
  SELECT DISTINCT l_partkey FROM lineitem, sqs_mid
  WHERE CAST(l_shipdate AS DATE) >= m
),
sql_setops_halves AS (
  SELECT 'intersect' AS set_op, CAST(count(*) AS BIGINT) AS n_parts
  FROM (SELECT l_partkey FROM sqs_h1
        INTERSECT SELECT l_partkey FROM sqs_h2)
  UNION ALL
  SELECT 'h1_except_h2', CAST(count(*) AS BIGINT)
  FROM (SELECT l_partkey FROM sqs_h1
        EXCEPT SELECT l_partkey FROM sqs_h2)
  UNION ALL
  SELECT 'h2_except_h1', CAST(count(*) AS BIGINT)
  FROM (SELECT l_partkey FROM sqs_h2
        EXCEPT SELECT l_partkey FROM sqs_h1)
  UNION ALL
  SELECT 'semi_join_expensive', CAST(count(*) AS BIGINT)
  FROM (SELECT h.l_partkey FROM sqs_h1 h
        WHERE EXISTS (SELECT 1 FROM part p
                      WHERE h.l_partkey = p.p_partkey
                        AND p.p_retailprice > 1500))
)
"""


def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL named-WINDOW clause: one window definition shared by four
    window functions — parser surface the DataFrame API spells as a
    reused Window spec. Per order: line revenue rank, share of the
    order's revenue, running share, and line count, all over the same
    (orderkey, revenue-desc) window family.

    Window partitions by orderkey (basket-bounded — never a global
    sort); money is DECIMAL-exact until the output-edge rounding.
    """
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               rank() OVER w AS rev_rank,
               round(CAST(l_extendedprice AS DOUBLE)
                     / CAST(sum(l_extendedprice) OVER wp AS DOUBLE),
                     6) AS rev_share,
               count(*) OVER wp AS n_lines
        FROM lineitem
        WHERE l_orderkey % 50 = 0
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_extendedprice DESC, l_linenumber),
               wp AS (PARTITION BY l_orderkey)
        """
    )


ORACLE_SQL_NAMED_WINDOW = """
sql_named_window AS (
  SELECT l_orderkey, l_linenumber,
         CAST(rank() OVER w AS BIGINT) AS rev_rank,
         round(CAST(l_extendedprice AS DOUBLE)
               / CAST(sum(l_extendedprice) OVER wp AS DOUBLE), 6)
           AS rev_share,
         CAST(count(*) OVER wp AS BIGINT) AS n_lines
  FROM lineitem
  WHERE l_orderkey % 50 = 0
  WINDOW w AS (PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber),
         wp AS (PARTITION BY l_orderkey)
)
"""


def sql_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (`<=>` / IS NOT DISTINCT FROM): orders
    bucketed by a NULLABLE key (clerk bucket, NULLIF'd on a
    deterministic slice) joined to the bucket dimension with BOTH
    operators — the null-safe join matches the NULL bucket rows a
    plain equi-join silently drops. Output counts per bucket under
    each semantics, proving the difference in-band.
    """
    register_all(spark, sf_dir)
    return spark.sql(
        """
        WITH keyed AS (
          SELECT NULLIF(o_custkey % 10, 0) AS bucket
          FROM orders
        ),
        dim AS (
          SELECT DISTINCT bucket FROM keyed
        )
        SELECT d.bucket,
               CAST(sum(CASE WHEN k.bucket <=> d.bucket
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_nullsafe,
               CAST(sum(CASE WHEN k.bucket = d.bucket
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_plain
        FROM dim d CROSS JOIN keyed k
        GROUP BY d.bucket
        """
    )


ORACLE_SQL_NULLSAFE = """
ns_keyed AS (
  SELECT NULLIF(o_custkey % 10, 0) AS bucket FROM orders
),
ns_dim AS (SELECT DISTINCT bucket FROM ns_keyed),
sql_nullsafe_join AS (
  SELECT d.bucket,
         CAST(sum(CASE WHEN k.bucket IS NOT DISTINCT FROM d.bucket
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe,
         CAST(sum(CASE WHEN k.bucket = d.bucket
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_plain
  FROM ns_dim d CROSS JOIN ns_keyed k
  GROUP BY d.bucket
)
"""


#: scripted-peel rounds (SQL scripting WHILE loop, unrolled in the
#: oracle): each round raises the threshold to the floored mean spend
#: of the orders still above it — "iterated mean" elite selection.
SCRIPT_PEEL_ROUNDS = 3


def sql_scripting_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/END, DECLARE, SET, WHILE): an
    iterated-mean peel over order values — round r sets the threshold
    to the floored mean cents of orders strictly above the previous
    threshold, a control-flow pattern (loop-carried scalar state)
    that plain SQL cannot express but a script can. The loop runs
    SCRIPT_PEEL_ROUNDS times; each iteration is ONE distributed agg,
    and the scalar threshold rides in a session variable — at 100 TB
    this is K sequential one-number aggregations, the cheapest
    possible iterative shape.

    All arithmetic is exact: cents are BIGINT, the mean is floored
    with DIV, so the DuckDB oracle replays the loop as unrolled CTEs
    bit-for-bit. Output (1 row): n_rounds, threshold_cents, n_above
    (orders above the final threshold).
    """
    register_views(spark, sf_dir)  # raw fixtures only — no derived views
    # flag gates script parsing; restore the session's prior value so
    # the only operator that touches session conf leaves no trace on
    # shared bench/test sessions (r4 ADVICE)
    prior = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            f"""
        BEGIN
          DECLARE thr BIGINT DEFAULT 0;
          DECLARE i INT DEFAULT 0;
          WHILE i < {SCRIPT_PEEL_ROUNDS} DO
            SET thr = (
              SELECT sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     DIV count(*)
              FROM orders
              WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > thr
            );
            SET i = i + 1;
          END WHILE;
          SELECT CAST(i AS INT) AS n_rounds,
                 thr AS threshold_cents,
                 (SELECT CAST(count(*) AS BIGINT) FROM orders
                  WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        > thr) AS n_above;
        END
        """
        )
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prior)


def oracle_sql_scripting_peel(rounds: int = SCRIPT_PEEL_ROUNDS) -> str:
    ctes = [
        """
scr_c AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
scr_t0 AS (SELECT CAST(0 AS BIGINT) AS thr)"""
    ]
    prev = "scr_t0"
    for i in range(1, rounds + 1):
        ctes.append(
            """
scr_t{i} AS (
  SELECT CAST(sum(c.cents) // count(*) AS BIGINT) AS thr
  FROM scr_c c, {prev} p WHERE c.cents > p.thr
)""".format(i=i, prev=prev)
        )
        prev = f"scr_t{i}"
    ctes.append(
        f"""
sql_scripting_peel AS (
  SELECT CAST({rounds} AS INT) AS n_rounds,
         p.thr AS threshold_cents,
         (SELECT CAST(count(*) AS BIGINT) FROM scr_c c
          WHERE c.cents > p.thr) AS n_above
  FROM {prev} p
)"""
    )
    return ",".join(ctes)
