"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship candidate-expansion pipeline at
sf0.001; ``queries()`` exposes every implemented operator from
SURVEY.md §2 (+ [EXT]); ``oracle_sql()`` gives the DuckDB-equivalent SQL
for each SQL-expressible query. Oracles are composed from CTE fragments
colocated with the Spark builders (same module, kept in sync).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    candidates as _cand,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    features as _feat,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    relational as _rel,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    submission as _sub,
)
from big_data_instacart_market_basket_analysis_spark.ml import models as _ml
from big_data_instacart_market_basket_analysis_spark.operators import (
    analytics as _ana,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    basket as _bask,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    dedup as _dedup,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    multimodal as _mm,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    privacy as _privacy,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    profiling as _prof,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    sampling as _samp,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    similarity as _sim,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    temporal as _tmp,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    trees as _trees,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    textstats as _text,
)
from big_data_instacart_market_basket_analysis_spark.plans import (
    sqlapi as _sqlapi,
)
from big_data_instacart_market_basket_analysis_spark.plans.instacart import (
    ORACLE_BASE_CTES,
    instacart_tables,
)
from big_data_instacart_market_basket_analysis_spark.functions.skew import (
    salted_skew_join,
    salted_sum_count,
)
from big_data_instacart_market_basket_analysis_spark.functions import (
    udafs as _udafs,
)
from big_data_instacart_market_basket_analysis_spark.sources.json_ingest import (
    ORACLE_EVENTS_JSON_ROUNDTRIP,
    ORACLE_VARIANT_ROLLUP,
)
from big_data_instacart_market_basket_analysis_spark.sources.text_ingest import (
    ORACLE_DOCS_TEXT_ROUNDTRIP,
)
from big_data_instacart_market_basket_analysis_spark.sources.orc_ingest import (
    ORACLE_EVENTS_ORC_ROUNDTRIP,
    events_orc_roundtrip,
)
from big_data_instacart_market_basket_analysis_spark.sources.xml_ingest import (
    ORACLE_EVENTS_XML_ROUNDTRIP,
    events_xml_roundtrip,
)
from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
    ensure_session_defaults,
    load_table,
)
from big_data_instacart_market_basket_analysis_spark.sources import (
    pydatasource as _pds,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    layout as _layout,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    graph as _graph,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    clustering as _clu,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    glm as _glm,
)
from big_data_instacart_market_basket_analysis_spark.operators import (
    factorization as _mf,
)
from big_data_instacart_market_basket_analysis_spark.streaming import (
    events as _ev,
)
from big_data_instacart_market_basket_analysis_spark.streaming import (
    stateful as _st,
)

# ---------------------------------------------------------------------------
# oracle composition: each fragment is "name AS (...)"; a query's oracle is
# WITH <base>, <fragments...> SELECT ... FROM <final>.
# ---------------------------------------------------------------------------

_FRAGMENTS: dict[str, str] = {
    "product_features": _feat.ORACLE_PRODUCT_FEATURES,
    "prior_enriched": _feat.ORACLE_PRIOR_ENRICHED,
    "user_order_features": _feat.ORACLE_USER_ORDER_FEATURES,
    "user_prior_features": _feat.ORACLE_USER_PRIOR_FEATURES,
    "users_final": _feat.ORACLE_USERS_FINAL,
    "user_product_features": _feat.ORACLE_USER_PRODUCT_FEATURES,
    "candidates": _cand.ORACLE_CANDIDATES,
    "feature_lift": _cand.ORACLE_FEATURE_LIFT,
    "proxy_submission": _sub.ORACLE_PROXY_SUBMISSION,
    "ef1_submission": _sub.ORACLE_EF1_SUBMISSION,
    "orders_limited": _rel.ORACLE_ORDERS_LIMITED,
    "dept_aisle_rollup": _rel.ORACLE_DEPT_AISLE_ROLLUP,
    "user_segment_stats": _rel.ORACLE_USER_SEGMENT_STATS,
    "products_only_prior": _rel.ORACLE_PRODUCTS_ONLY_PRIOR,
    "eval_split_counts": _rel.ORACLE_EVAL_SPLIT_COUNTS,
    "threshold_binarize": _rel.ORACLE_THRESHOLD_BINARIZE,
    "top_products_per_user": _rel.ORACLE_TOP_PRODUCTS_PER_USER,
    "loo_target_encoding": _feat.ORACLE_LOO_TARGET_ENCODING,
    "woe_iv_encoding": _feat.ORACLE_WOE_IV,
    "info_gain_ranking": _feat.ORACLE_INFO_GAIN,
    "feature_correlations": _prof.oracle_feature_correlations(),
    "baskets_base": _bask.ORACLE_BASKETS,
    "seq_spans": _bask.ORACLE_SEQ_SPANS,
    "sequential_pairs": _bask.ORACLE_SEQUENTIAL_PAIRS,
    "frequent_pairs": _bask.ORACLE_FREQUENT_PAIRS,
    "apriori_triples": _bask.ORACLE_APRIORI_TRIPLES,
    "closed_maximal_pairs": _bask.ORACLE_CLOSED_MAXIMAL_PAIRS,
    "als_rank1": _mf.oracle_als_rank1(),
    "negative_samples": _samp.oracle_negative_samples(),
    "als_bpr_auc": _mf.oracle_als_bpr_auc(),
    "pair_rules": _bask.ORACLE_PAIR_RULES,
    "basket_sizes": _bask.ORACLE_BASKET_SIZES,
    "pair_substitutes": _bask.ORACLE_PAIR_SUBSTITUTES,
    "sql_dept_stats": _sqlapi.ORACLE_SQL_DEPT_STATS,
    "sql_dept_top_reordered": _sqlapi.ORACLE_SQL_DEPT_TOP_REORDERED,
}

# fragment dependency edges (fragment -> prerequisite fragments, in order)
_DEPS: dict[str, list[str]] = {
    "product_features": [],
    "prior_enriched": [],
    "user_order_features": [],
    "user_prior_features": ["prior_enriched"],
    "users_final": ["prior_enriched", "user_prior_features", "user_order_features"],
    "user_product_features": ["prior_enriched"],
    "candidates": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
    ],
    "proxy_submission": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
        "candidates",
    ],
    "ef1_submission": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
        "candidates",
    ],
    "feature_lift": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
        "candidates",
    ],
    "orders_limited": [],
    "dept_aisle_rollup": ["product_features"],
    "user_segment_stats": [],
    "products_only_prior": [],
    "eval_split_counts": [],
    "threshold_binarize": ["product_features"],
    "top_products_per_user": ["prior_enriched", "user_product_features"],
    "loo_target_encoding": [],
    "woe_iv_encoding": [],
    "info_gain_ranking": [],
    "feature_correlations": [
        "prior_enriched",
        "user_prior_features",
        "user_order_features",
        "users_final",
        "product_features",
        "user_product_features",
        "candidates",
    ],
    "baskets_base": [],
    "seq_spans": [],
    "sequential_pairs": ["seq_spans"],
    "frequent_pairs": ["baskets_base"],
    "apriori_triples": ["baskets_base"],
    "closed_maximal_pairs": ["frequent_pairs", "apriori_triples"],
    "als_rank1": [],
    "negative_samples": [],
    "als_bpr_auc": ["als_rank1", "negative_samples"],
    "pair_rules": ["baskets_base"],
    "basket_sizes": ["baskets_base"],
    "pair_substitutes": ["baskets_base"],
    "sql_dept_stats": ["product_features"],
    "sql_dept_top_reordered": ["product_features"],
}


def _oracle(final: str, select: str | None = None) -> str:
    """Compose WITH base-CTEs + fragments for ``final`` + terminal SELECT."""
    seen: list[str] = []

    def add(name: str) -> None:
        for dep in _DEPS[name]:
            add(dep)
        if name not in seen:
            seen.append(name)

    add(final)
    ctes = ",\n".join(_FRAGMENTS[n].strip() for n in seen)
    body = select or f"SELECT * FROM {final}"
    return f"WITH {ORACLE_BASE_CTES.strip()},\n{ctes}\n{body}"


def _ext_oracle(
    fragments: list[str], final: str, recursive: bool = False
) -> str:
    """Compose an [EXT] oracle from standalone CTE fragments (these read
    documents/embeddings directly — no Instacart base CTEs needed).
    ``recursive`` prefixes WITH RECURSIVE (connected-components)."""
    ctes = ",\n".join(f.strip() for f in fragments)
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"{kw} {ctes}\nSELECT * FROM {final}"


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------


def _stringify_items(df: DataFrame) -> DataFrame:
    """Render the set-valued all_items column hash-stably (sorted,
    space-joined string) for oracle comparison."""
    cols = [
        F.array_join(F.col(c).cast("array<string>"), " ").alias(c)
        if c == "all_items"
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def q_ingest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S6: the Instacart-shaped orders view (enum encode, order_number
    window, dow/hod extraction, days_since lag+default)."""
    return instacart_tables(spark, sf_dir).orders


def q_csv_ingest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S6 on the reference's real input format (F.py:16-30): orders
    round-tripped through Instacart-style CSV and re-ingested with the
    header/typed-read/enum/""->0 parse rules; must equal the
    parquet-derived view, so the same iorders oracle applies."""
    from big_data_instacart_market_basket_analysis_spark.sources import (
        csv_ingest as _csv,
    )

    return _csv.orders_csv_roundtrip(spark, sf_dir)


def q_order_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S3: the order_products view (typed projection + derived flag)."""
    return instacart_tables(spark, sf_dir).order_products


def q_prior_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/P4: semi-join restriction to prior orders."""
    return instacart_tables(spark, sf_dir).prior_products


def q_product_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _feat.product_features(instacart_tables(spark, sf_dir))


def q_prior_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = instacart_tables(spark, sf_dir)
    return _feat.prior_enriched(t).select(
        "orderID", "productID", "cart_order", "reordered", "userID",
        "eval_set", "order_number", "order_dow", "order_hod", "days_since",
    )


def q_user_order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _feat.user_order_features(instacart_tables(spark, sf_dir))


def q_user_prior_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stringify_items(
        _feat.user_prior_features(instacart_tables(spark, sf_dir))
    )


def q_users_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stringify_items(_feat.users_final(instacart_tables(spark, sf_dir)))


def q_user_product_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _feat.user_product_features(instacart_tables(spark, sf_dir))


def q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cand.candidates_staged(instacart_tables(spark, sf_dir))


def q_feature_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration/lift table of the product reorder-ratio feature vs
    the train label (fixed-width bins; map-only + one hash-agg)."""
    return _cand.feature_lift(instacart_tables(spark, sf_dir))


def q_pair_substitutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitute/complement classification for same-aisle popular
    pairs (below/above-chance co-occurrence z)."""
    return _bask.pair_substitutes(instacart_tables(spark, sf_dir))


def q_proxy_submission(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sub.proxy_submission(instacart_tables(spark, sf_dir))


def q_ef1_submission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-F1-optimal per-order k selection (ordered-cumulative
    EF1 curve, 'None' probability signal) — the principled upgrade of
    the reference's fixed 0.19 threshold."""
    return _sub.ef1_submission(instacart_tables(spark, sf_dir))


def q_orders_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rel.orders_limited(instacart_tables(spark, sf_dir))


def q_eval_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rel.eval_split_counts(instacart_tables(spark, sf_dir))


def q_dept_aisle_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP multi-level aggregation over the product dimension."""
    return _rel.dept_aisle_rollup(instacart_tables(spark, sf_dir))


def q_products_only_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: prior-only products (EXCEPT)."""
    return _rel.products_only_prior(instacart_tables(spark, sf_dir))


def q_user_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-dimension enrichment: per-segment order stats via a
    broadcast dim lookup over the customer fixture."""
    return _rel.user_segment_stats(
        instacart_tables(spark, sf_dir),
        load_table(spark, sf_dir, "customer"),
    )


def q_threshold_binarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rel.threshold_binarize(instacart_tables(spark, sf_dir))


def q_top_products_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rel.top_products_per_user(instacart_tables(spark, sf_dir))


def q_sql_dept_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end: per-department rollup via spark.sql over the
    registered engine views."""
    return _sqlapi.sql_dept_stats(spark, sf_dir)


def q_sql_dept_top_reordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end: windowed top-3 per department via spark.sql."""
    return _sqlapi.sql_dept_top_reordered(spark, sf_dir)


def q_sql_corpus_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end over the [EXT] views: per-language corpus-prep
    yield via spark.sql on corpus_prep_v."""
    return _sqlapi.sql_corpus_lang_stats(spark, sf_dir)


def q_geo_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dim chain (customer -> nation -> region), broadcast
    joins, ROLLUP with grouping flags."""
    return _rel.geo_customer_rollup(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent pairs (support-counted co-occurrence)."""
    return _bask.frequent_pairs(instacart_tables(spark, sf_dir))


def q_pair_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arity-2 association rules (confidence + lift)."""
    return _bask.pair_rules(instacart_tables(spark, sf_dir))


def q_basket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bask.basket_sizes(instacart_tables(spark, sf_dir))


def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified Apriori 3-itemsets (downward-closure pruned candidate
    stream; oracle counts unpruned — hash match proves losslessness)."""
    return _bask.apriori_triples(instacart_tables(spark, sf_dir))


def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph structure: log2 degree histogram +
    assortativity coefficient (integer moments, one rounded
    division)."""
    return _graph.degree_stats(_lineitem(spark, sf_dir))


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (fixed unrolled rounds, per-round checkpointed
    frontier): per-node induced degree + core membership + converged
    flag; all-integer hash parity with the unrolled DuckDB schedule."""
    return _graph.k_core_membership(_lineitem(spark, sf_dir))


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss edge peeling (fixed unrolled rounds, per-round
    checkpointed edge set): initial/final triangle support + truss
    membership per canonical edge."""
    return _graph.ktruss_edges(_lineitem(spark, sf_dir))


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction beside the RA index: per-node
    integer floor(1e6/ln(deg)) contributions, exact BIGINT wedge
    sums, seed-scoped."""
    return _graph.adamic_adar_prediction(_lineitem(spark, sf_dir))


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the co-purchase graph:
    five exact BIGINT edge-degree moments, one final Pearson
    assembly."""
    return _graph.degree_assortativity(_lineitem(spark, sf_dir))


def q_nation_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revealed comparative advantage per (nation, part type): one
    fact pass to the 25x6 grid, rollup shares, exact cross-multiplied
    specialization flag."""
    return _ana.nation_rca(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "part"),
    )


def q_docs_systematic_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Systematic 1-in-k sample over the deterministic md5 shuffle
    order — exact ceil(N/k) size, period-proof frame."""
    return _samp.systematic_sample(_docs(spark, sf_dir))


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed link prediction: common neighbors + integer
    resource-allocation index over a deterministic seed set's
    non-adjacent candidates (seed-scoped wedge join — linear where
    all-pairs RA is sum(deg^2) by definition)."""
    return _graph.link_prediction_ra(_lineitem(spark, sf_dir))


def q_closed_maximal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed/maximal flags for every frequent pair (itemset-lattice
    condensation; completeness guaranteed by downward closure at the
    shared support threshold)."""
    return _bask.closed_maximal_pairs(instacart_tables(spark, sf_dir))


def q_fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FP-Growth frequent itemsets, any arity (rows-only — not
    SQL-expressible for unbounded arity; the arity-2 slice is
    hash-checked via frequent_pairs)."""
    return _bask.fpgrowth_itemsets(instacart_tables(spark, sf_dir))


def q_fpgrowth_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FP-Growth association rules (rows-only check)."""
    return _bask.fpgrowth_rules(instacart_tables(spark, sf_dir))


def q_sequential_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arity-2 sequential patterns (p strictly before q across a
    user's order history) — the SQL-expressible PrefixSpan anchor."""
    return _bask.sequential_pairs(instacart_tables(spark, sf_dir))


def q_prefixspan_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixSpan sequential patterns (rows-only — arbitrary patterns
    are not SQL-expressible; the [[p],[q]] slice is hash-checked via
    sequential_pairs)."""
    return _bask.prefixspan_patterns(instacart_tables(spark, sf_dir))


# ---------------------------------------------------------------------------
# [EXT] LLM-data-pipeline operators (documents / embeddings fixtures)
# ---------------------------------------------------------------------------


#: load_table stages one handle per (session, sf_dir, table), so every
#: query gets the same input object and the operators' input-owned
#: staging (shingles, cluster labels, edge lists) hits across queries.
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem")


def q_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report: modulus-CDC boundaries
    via per-doc window-hash filters, chunk-level savings ratio."""
    return _dedup.cdc_chunk_report(_docs(spark, sf_dir))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.exact_dedup(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.ngram_jaccard_pairs(_docs(spark, sf_dir))


def q_dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered (PPJoin-style) shingle-Jaccard join at t=1/2 —
    LOSSLESS candidate pruning; the oracle is the uncapped exact
    all-pairs Jaccard, so the hash match proves completeness."""
    return _dedup.ppjoin_pairs(_docs(spark, sf_dir))


def q_dedup_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-candidate precision vs exact verification — the
    wasted-verify price of the banding parameters."""
    return _dedup.lsh_precision_eval(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.minhash_lsh_pairs(_docs(spark, sf_dir))


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: Broder containment |A∩B|/min(|A|,|B|) over
    the shared df-capped shingle kernel — catches a short doc quoted
    inside a long one (the test-set-contamination shape Jaccard
    misses)."""
    return _dedup.containment_pairs(_docs(spark, sf_dir))


def q_text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate n-gram span detection (bounded-window substring
    dedup): per-doc maximal duplicated islands + exact copied-token
    coverage. Linear — span-hash agg + doc window, no self-join."""
    return _text.duplicate_spans(_docs(spark, sf_dir))


def q_embedding_random_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64 -> 16 dims
    (deterministic md5 sign matrix, map-only)."""
    return _sim.random_projection(_emb(spark, sf_dir))


def q_ann_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of 16-dim projected-space top-k vs the exact 64-dim
    truth — gates whether JL compression is a usable candidate
    generator for this corpus (on the isotropic fixture it is not,
    ~0.1, and the harness is what proves that)."""
    return _sim.rp_ann_recall(_emb(spark, sf_dir))


def q_dedup_sorted_neighborhood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo): window pairs in
    normalized-prefix sort order, ranked without a global sort
    (bucketed prefix-sum), scored by exact Jaccard from the shared
    kernel — the third candidate-generation mechanism beside the
    inverted index and LSH."""
    return _dedup.sorted_neighborhood_pairs(_docs(spark, sf_dir))


def q_dedup_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QA: SimHash recall vs the exact n-gram Jaccard truth
    (Hamming-ball detector audited against lexical ground truth)."""
    return _dedup.simhash_recall_eval(_docs(spark, sf_dir))


def q_dedup_detector_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup governance: per-detector pair counts + agreement with the
    exact-Jaccard truth in one table — the which-detectors-to-pay-for
    decision input."""
    return _dedup.detector_matrix(_docs(spark, sf_dir))


def q_dedup_capture_recapture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chapman capture-recapture estimate of total near-dup pairs
    from the MinHash-LSH and SimHash detectors' overlap — the
    'how much did dedup miss' floor."""
    return _dedup.capture_recapture_estimate(_docs(spark, sf_dir))


def q_events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type Markov chain (bits): the
    predictability summary of user behavior; entropy collapse flags
    bots and broken instrumentation."""
    return _tmp.markov_entropy_rate(load_table(spark, sf_dir, "events"))


def q_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QA: MinHash-LSH banding recall vs the exact n-gram
    Jaccard ground truth, with the jaccard range per status."""
    return _dedup.minhash_recall_eval(_docs(spark, sf_dir))


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram LM scoring: per-doc mean token log-probability
    under the corpus's own unigram distribution (KenLM-style quality
    proxy; vocabulary-sized broadcast table)."""
    return _text.unigram_logprob_scores(_docs(spark, sf_dir))


def q_events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user (level + trend +
    one-step forecast) — a recursive time-series model executed as an
    identical left fold in both engines, hence exactly verified."""
    return _tmp.user_holt_forecast(load_table(spark, sf_dir, "events"))


def q_events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters triple exponential smoothing per user (level,
    trend, additive m=7 seasonality, one-step forecast) — the top of
    the forecasting ladder, bit-exactly verified against a recursive
    -CTE oracle."""
    return _tmp.user_holt_winters(load_table(spark, sf_dir, "events"))


def q_events_robust_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (tie-corrected) + Theil-Sen slope on
    the daily revenue series — days-bounded pair set, integer S."""
    return _tmp.robust_trend(load_table(spark, sf_dir, "events"))


def q_events_multi_test_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Welch tests with Benjamini-Hochberg FDR control —
    multiple-comparisons hygiene; A&S normal-CDF polynomial computed
    identically in both engines."""
    return _tmp.multi_test_bh(load_table(spark, sf_dir, "events"))


def q_events_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel robust outlier screen: per-type median/MAD flags with
    pre-rounded operands (exact percentiles, two passes)."""
    return _tmp.hampel_outliers(load_table(spark, sf_dir, "events"))


def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED pre-period covariate adjustment: theta, adjusted
    variance, percent reduction — engine-exact from one moment agg."""
    return _tmp.cuped_report(load_table(spark, sf_dir, "events"))


def q_events_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve + exact Gini of per-user revenue (integer-cent
    rank algebra; rank window at user grain)."""
    return _tmp.revenue_concentration(load_table(spark, sf_dir, "events"))


def q_events_mta_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution MODEL COMPARISON (first/last/linear +
    unattributed) over 24h pre-purchase journeys — the model-vs-model
    readout; the session-grain linear split lives in
    ``events_attribution``."""
    return _tmp.attribution_report(load_table(spark, sf_dir, "events"))


def q_events_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule-Walker fit + 3-step forecast on the daily revenue
    series — closed-form autoregression, pre-rounded autocorrelations
    make the whole fit engine-exact."""
    return _tmp.ar2_forecast(load_table(spark, sf_dir, "events"))


def q_events_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot screen: inter-arrival regularity (low gap CV at
    volume) flags automation before traffic-derived text enters a
    corpus; one user_id shuffle."""
    return _tmp.bot_flags(load_table(spark, sf_dir, "events"))


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event-count series
    (Page's sequential statistic, scale-free k/h) — bit-exact fold vs
    a recursive-CTE oracle."""
    return _tmp.cusum_changepoints(load_table(spark, sf_dir, "events"))


def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types (per-user
    consecutive pairs; |types|^2 output grain)."""
    return _tmp.markov_transitions(load_table(spark, sf_dir, "events"))


def q_ml_ridge_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified closed-form ridge regression (λ on the slope diagonal
    of the same integer Gram moments as the verified OLS)."""
    return _glm.ridge_train(load_table(spark, sf_dir, "events"))


def q_events_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion by variant (pooled-p̂
    normal approximation, rounded-z significance flag)."""
    return _tmp.conversion_ztest(load_table(spark, sf_dir, "events"))


def q_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand rate per product (dyadic EWMA of
    last-4 demand sizes / intervals, exact BIGINT numerators)."""
    return _tmp.croston_forecast(_lineitem(spark, sf_dir))


def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log own-price elasticity per brand (five log moments, one
    rounded OLS-slope ratio)."""
    return _tmp.price_elasticity(
        _lineitem(spark, sf_dir), load_table(spark, sf_dir, "part")
    )


def q_events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step backtest of naive/snaive7/dyadic-EWMA/drift on the
    daily revenue series (exact rational forecasts, MAE/MAPE/MASE)."""
    return _tmp.forecast_backtest(load_table(spark, sf_dir, "events"))


def q_events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power readout: current-sample MDE + per-arm n for a 5%
    lift (exact integer moments, closed-form normal approximation)."""
    return _tmp.ab_power_mde(load_table(spark, sf_dir, "events"))


def q_events_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-type value distributions onto the
    pooled distribution (integer doubled-midrank/position algebra,
    span-exploded pooled rank lookup via equi-join; no global sort)."""
    return _tmp.quantile_normalize(load_table(spark, sf_dir, "events"))


def q_events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: journey-chain absorption
    probabilities (integer millionths, unrolled rounds) with per-
    channel removal effects and normalized shares — the data-driven
    MTA model beside the heuristic and Shapley ones."""
    return _tmp.markov_removal_attribution(
        load_table(spark, sf_dir, "events")
    )


def q_events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase value (parity variants x
    midpoint periods; exact integer-cent cell sums, one rounded
    estimate row)."""
    return _tmp.did_report(load_table(spark, sf_dir, "events"))


def q_events_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation over event-type
    strata (size x std shares from exact integer cent moments)."""
    return _samp.neyman_allocation(load_table(spark, sf_dir, "events"))


def q_parts_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample of parts by revenue (Madow, md5 order,
    start 0): exact integer hit counts via the rank kernel's
    cumulative line — sum(n_hits) == n by telescoping."""
    return _samp.pps_systematic_sample(_lineitem(spark, sf_dir))


def q_graph_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy recommender eval: catalog coverage + intra-list
    similarity of the item-item top-k lists (integer-micros pairwise
    sims, C(k,2)-bounded list pairs)."""
    return _graph.rec_coverage_diversity(_lineitem(spark, sf_dir))


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type chain by integer
    power iteration (millionths scale, 8 unrolled rounds — exact
    parity with the unrolled oracle)."""
    return _tmp.markov_stationary(load_table(spark, sf_dir, "events"))


def q_events_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution: 2^4 coalitions over
    pre-first-purchase touch sets, integer 24ths — the game-theoretic
    anchor for the heuristic MTA models."""
    return _tmp.shapley_attribution(load_table(spark, sf_dir, "events"))


def q_events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user spend — exact rank formulation
    with integral tie-group rank sums (bucketed prefix-sum ranks)."""
    return _tmp.spend_gini(load_table(spark, sf_dir, "events"))


def q_events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of the value column (map-only digit
    extraction, 9-row grain, closed-form expected shares)."""
    return _tmp.benford_audit(load_table(spark, sf_dir, "events"))


def q_events_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence (event_type x variant): integral cell
    terms (O*N - R*C)^2 / (N*R*C); bounded contingency grain."""
    return _tmp.chi2_independence_test(
        load_table(spark, sf_dir, "events")
    )


def q_events_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT daily conversion monitor: cumulative LLR on exact
    integer counts with Python-injected ln constants (bitwise-equal
    IEEE arithmetic in both engines) vs the Wald boundaries."""
    return _tmp.sprt_monitor(load_table(spark, sf_dir, "events"))


def q_events_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% median CI via order-statistic ranks
    (normal-approx binomial ranks, bucketed prefix-sum selection)."""
    return _tmp.median_ci(load_table(spark, sf_dir, "events"))


def q_events_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test of conversion across ordered
    engagement bins — integer numerator, one rounded z division."""
    return _tmp.trend_test(load_table(spark, sf_dir, "events"))


def q_events_overdispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson overdispersion gate on per-user purchase counts:
    dispersion index + normal-approx z from three exact integers."""
    return _tmp.overdispersion_test(load_table(spark, sf_dir, "events"))


def q_events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the A/B variants' per-user purchase
    totals — rank-based (whale-robust) significance; doubled-rank
    integer arithmetic until the final z division."""
    return _tmp.mannwhitney_test(load_table(spark, sf_dir, "events"))


def q_events_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (per-user view count vs purchase
    cents): doubled-midrank BIGINT moments via bucketed prefix-sums,
    one rounded Pearson-on-ranks division."""
    return _tmp.spearman_corr(load_table(spark, sf_dir, "events"))


def q_events_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five event types' values: exact
    BIGINT cent moments per group, SSB/SSW assembled over k=5 rows."""
    return _tmp.anova_f_test(load_table(spark, sf_dir, "events"))


def q_events_permutation_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Randomization test for the A/B lift: 64 md5-derived label
    reshuffles in one exploded pass, exact cents, add-one p-value."""
    return _tmp.permutation_test(load_table(spark, sf_dir, "events"))


def q_events_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart of daily purchase revenue: fold-replayed
    z/limits recursions (no pow()), time-varying 3-sigma bands."""
    return _tmp.ewma_chart(load_table(spark, sf_dir, "events"))


def q_events_mk_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hirsch-Slack seasonal Mann-Kendall: within-weekday pair signs,
    tie-corrected variance, continuity-corrected z."""
    return _tmp.seasonal_mann_kendall(load_table(spark, sf_dir, "events"))


def q_events_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval per event type's user-reach share."""
    return _tmp.wilson_ci(load_table(spark, sf_dir, "events"))


def q_events_nb_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial MoM fit of per-user purchase counts (zeros
    included): r = m^2/(v-m), p = m/v; NULL when not overdispersed."""
    return _tmp.nb_fit(load_table(spark, sf_dir, "events"))


def q_orders_gamma_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma MoM fit of order totals per priority: k = m^2/v,
    theta = v/m from exact cent-grain moments."""
    return _tmp.gamma_fit(load_table(spark, sf_dir, "orders"))


def q_orders_bass_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion fit of the customer adoption curve: OLS on the
    discrete Bass equation over the gap-filled daily first-order
    series; M/p/q/peak-time readout (packed-fold normal equations)."""
    return _tmp.bass_model(load_table(spark, sf_dir, "orders"))


def q_orders_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of customer revenue decomposed
    between/within nations (additive, unlike Gini)."""
    return _tmp.theil_decomposition(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: integer-millionth seed-restart walk on
    the shared co-purchase stage, 3 unrolled supersteps."""
    return _graph.personalized_pagerank(_lineitem(spark, sf_dir))


def q_events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS test (first vs second half of the stream):
    supremum computed on integers at every distinct value, cumulative
    counts via the bucketed prefix-sum (no global sort)."""
    return _tmp.ks_drift_test(load_table(spark, sf_dir, "events"))


def q_events_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) drift between the stream halves:
    exact integer CDF-gap terms on the cent grain integrated over
    value gaps — the magnitude-aware sibling of KS/PSI."""
    return _tmp.wasserstein_drift(load_table(spark, sf_dir, "events"))


def q_events_pseudonymized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization: user_id -> salted md5 token (equality
    preserved, so user-keyed operators run unchanged); the free-text
    props channel is dropped. Map-only, zero shuffle."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        privacy as _priv,
    )

    return _priv.pseudonymize_events(load_table(spark, sf_dir, "events"))


def q_events_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over generalized quasi-identifiers
    (event_type, hour band, value band): group sizes, distinct users,
    at-risk flag for groups below k."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        privacy as _priv,
    )

    return _priv.k_anonymity_audit(load_table(spark, sf_dir, "events"))


def q_ml_cart_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 CART trained in-engine (histogram Gini splits from
    integral counts, plan-only argmin) — the tree is hash-verified."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        trees as _trees,
    )

    return _trees.cart_train_staged(load_table(spark, sf_dir, "events"))


def q_ml_rf_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified random forest: Poisson-bootstrap stumps with feature
    subsampling + OOB majority-vote accuracy, all integer-exact."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        trees as _trees,
    )

    return _trees.rf_train(load_table(spark, sf_dir, "events"))


def q_ml_gbm_perm_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation importance for the verified GBM (deterministic
    md5 rank-rotation shuffle, exact SSE deltas)."""
    return _trees.gbm_permutation_importance(
        load_table(spark, sf_dir, "events")
    )


def q_ml_cart_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-gain feature importance derived from the verified CART
    model table (explainability as a query)."""
    return _trees.cart_feature_importance(load_table(spark, sf_dir, "events"))


def q_events_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit across the subject tables."""
    return _privacy.erasure_audit(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def q_ml_gbm_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified gradient boosting: depth-1 stumps on integer-scaled
    residuals; per-round split/leaves/SSE hash-verified."""
    return _trees.gbm_train_staged(load_table(spark, sf_dir, "events"))


def q_events_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism DP counts per event_type (deterministic
    inverse-CDF noise at the secure-RNG swap point; the explicit
    insecure flag marks this as the oracle-replayable demo release)."""
    return _privacy.dp_noisy_counts(
        load_table(spark, sf_dir, "events"),
        insecure_deterministic_noise=True,
    )


def q_parts_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week trending parts: salted two-level per-week top-K
    with previous-week rank and delta."""
    return _ana.trending_parts(load_table(spark, sf_dir, "lineitem"))


def q_text_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier, hash-verifiable: multinomial Naive
    Bayes fit on Gopher-rule weak labels (counts + add-1 smoothing =
    pure aggregation, so train AND score replay exactly in SQL);
    per-doc keep-vs-reject log-odds and prediction."""
    return _text.nb_quality_scores(_docs(spark, sf_dir))


def q_text_nb_quality_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe k-fold CV of the NB classifier with all folds
    trained in ONE pass (count subtraction: fold f's model = global
    counts minus fold f's counts, including its training-vocab size);
    per-fold accuracy, fully SQL-verifiable."""
    return _text.nb_quality_cv(_docs(spark, sf_dir))


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of embeddings (64-row
    stats broadcast into a map-only transform) — kills the common bias
    direction that inflates cosines."""
    return _sim.standardize_embeddings(_emb(spark, sf_dir))


def q_embedding_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-density embedding outliers (IVF-cell-confined pairs, mean
    top-k cosine, lowest-density report) — the corrupted-input screen
    before training on embeddings."""
    return _sim.knn_outlier_scores(_emb(spark, sf_dir))


def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: stopword-bounded phrase islands,
    degree/freq word scores, global top-k phrases."""
    return _text.rake_keywords(_docs(spark, sf_dir))


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease per doc (vowel-group syllable heuristic) —
    map-only readability signal for corpus filtering/stratification."""
    return _text.readability_scores(_docs(spark, sf_dir))


def q_text_nb_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB learning curve: 1/3, 2/3, 3/3 cumulative training steps
    scored on a fixed holdout bucket — all models trained in one
    corpus pass via bucket-count explode."""
    return _text.nb_learning_curve(_docs(spark, sf_dir))


def q_text_nb_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile cumulative-gains/lift table of the NB quality scores
    (bucketed prefix-sum ranks, integer decile cuts; threshold-sizing
    readout for corpus filtering)."""
    return _text.nb_gains_table(_docs(spark, sf_dir))


def q_text_nb_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the NB classifier (AUC = Mann-Whitney
    statistic via doubled midranks — integral until one division);
    the train -> score -> rank -> AUC loop verified end-to-end."""
    return _text.nb_quality_auc(_docs(spark, sf_dir))


def q_media_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-boundary detection: per-clip frame aHash sequence +
    lag-window Hamming jumps (rows-only; stub codec, real plumbing)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        multimodal as _mm,
    )

    return _mm.media_scene_changes_query(_docs(spark, sf_dir))


def q_media_sniff_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary-header sniffing: PNG IHDR dims parsed from a true
    BINARY column, self-proving round trip — map-only."""
    return _mm.media_sniff_dims(_docs(spark, sf_dir))


def q_media_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV/RIFF header parsing: little-endian sample-rate and
    channel fields from a true BINARY column, self-proving."""
    return _mm.media_wav_meta(_docs(spark, sf_dir))


def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) image near-dup pairs: Arrow-batched
    hash over the stubbed decoder, then banded Hamming join — the
    multimodal member of the dedup family. Rows-only (the hash rides
    the documented fake codec; the banding is real and unit-pinned to
    a Python reference)."""
    return _mm.media_phash_dedup_query(_docs(spark, sf_dir))


def q_text_trigram_jm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram LM scoring (Jelinek-Mercer 1/2,1/4,1/4) -
    the top rung of the n-gram quality-filter ladder."""
    return _text.trigram_jm_scores(_docs(spark, sf_dir))


def q_docs_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of the corpus source mix between
    doc_id-parity halves - the always-finite crawl-mix drift monitor."""
    return _text.source_jsd_report(_docs(spark, sf_dir))


def q_text_ql_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood retrieval (mu=2000) over the BM25
    query terms — the LM-school lexical ranker beside Okapi BM25."""
    return _text.ql_search(_docs(spark, sf_dir))


def q_text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (exact-binary 0.75
    discount, continuation counts) — the KenLM-grade smoothing rung
    above add-k; all statistics are aggs of one bigram-count table."""
    return _text.kneser_ney_scores(_docs(spark, sf_dir))


def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM scoring (add-k smoothed ln P(w2|w1)) — the
    order-sensitive quality filter above the unigram LM; scrambled
    common-word junk scores low here but not there."""
    return _text.bigram_logprob_scores(_docs(spark, sf_dir))


def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon character entropy (bits/char) — map-only
    boilerplate/junk detector."""
    return _text.char_entropy_scores(_docs(spark, sf_dir))


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter: six per-rule boolean
    columns + conjunctive keep verdict, one map-only pass."""
    return _text.gopher_rules(_docs(spark, sf_dir))


def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles per language by unigram
    LM score."""
    return _text.ccnet_buckets(_docs(spark, sf_dir))


def q_corpus_prep_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical (quality + n-gram near-dup) AND semantic (SemDeDup)
    curation in one composed plan over doc_id <-> vec_id."""
    return _text.corpus_prep_semantic(
        _docs(spark, sf_dir), _emb(spark, sf_dir)
    )


def q_text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: per-doc mean log-likelihood ratio
    between the target-language unigram LM and the full-corpus LM;
    keeps docs more target-like than the corpus mixture."""
    return _text.dsir_importance(_docs(spark, sf_dir))


def q_docs_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data export in one composed plan: corpus
    prep survivors -> deterministic shuffle order -> token-budget batch
    packing; emits per (shard, batch) manifests."""
    return _text.training_export(_docs(spark, sf_dir))


def q_dedup_minhash_exact_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-collapse -> MinHash near-dup over representatives: the
    corpus-scale ordering (copy multiplicity never reaches the LSH
    band buckets); pairs carry each side's collapsed copy count."""
    return _dedup.minhash_exact_first(_docs(spark, sf_dir))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (md5-derived 60-bit hash — the whole
    vote/band/Hamming pipeline replays in DuckDB, so this is
    oracle-checked, not rows-only)."""
    return _dedup.simhash_pairs(_docs(spark, sf_dir))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over near-dup pairs (iterative
    min-label propagation; oracle = DuckDB recursive CTE)."""
    return _dedup.connected_clusters(_docs(spark, sf_dir))


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pass: quality filter + near-dup cluster
    representatives + token budget."""
    return _text.corpus_prep(_docs(spark, sf_dir))


def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim._brute_topk_staged(_emb(spark, sf_dir)).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ann_brute_force_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH the cosine score column, rounded to 6 decimals so the
    float agrees across engines (both fold the dot product
    left-to-right; rounding absorbs the <=1-ulp libm drift) — upgraded
    from rows-only to a full oracle row."""
    return _sim._brute_topk_staged(_emb(spark, sf_dir)).withColumn(
        "cosine", F.round("cosine", 6)
    )


def q_embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query, the most-similar
    corpus vector with a different label (label-mismatch filter below
    the top-1 window)."""
    return _sim.hard_negatives(_emb(spark, sf_dir))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.lsh_ann_topk(_emb(spark, sf_dir))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: probe nprobe nearest cells of a deterministic
    coarse quantizer, exact re-rank within."""
    return _sim.ivf_ann_topk(_emb(spark, sf_dir))


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: per-query recall@k of the IVF index vs
    the brute-force ground truth (leftsemi intersection count)."""
    return _sim.ann_recall_eval(_emb(spark, sf_dir))


def q_ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@k vs nprobe tuning curve against the staged
    brute-force truth, with the probed-cell scan fraction."""
    return _sim.ivf_probe_sweep(_emb(spark, sf_dir))


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized cosine top-k (4x memory compression, exact
    integer dot products -> engine-stable ranking)."""
    return _sim.quantized_topk(_emb(spark, sf_dir))


def q_events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over (user_id, hour) for
    multi-dimensional file skipping; map-only integer bit interleave."""
    return _layout.zorder_keys(load_table(spark, sf_dir, "events"))


def q_events_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering keys over the (user, hour) grid — 16
    unrolled quadrant-walk levels, map-only."""
    return _layout.hilbert_keys(load_table(spark, sf_dir, "events"))


def q_events_curve_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-vs-Morton locality report: per-curve-segment bounding
    boxes (the min/max-stats selectivity comparison)."""
    return _layout.curve_locality_report(
        load_table(spark, sf_dir, "events")
    )


def q_docs_consistent_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring routing with virtual nodes: per-shard
    balance report (placement is engine-exact md5 arithmetic)."""
    return _layout.consistent_shards(_docs(spark, sf_dir))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.embedding_near_dup_pairs(_emb(spark, sf_dir))


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded k-means codebook over embeddings (rows-only: trained
    codebooks are not cross-engine replayable)."""
    return _sim.kmeans_clusters(_emb(spark, sf_dir))


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (trained integer codebooks + ADC)."""
    return _sim.pq_ann_topk(_emb(spark, sf_dir))


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ index vs brute-force exact truth."""
    return _sim.pq_ann_recall(_emb(spark, sf_dir))


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified PCA: dominant principal component via power iteration
    on the exact integer scatter matrix (unrolled-CTE oracle)."""
    return _sim.pca_power_iteration(_emb(spark, sf_dir))


def q_embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer Lloyd's k-means (hash-verified; the
    replayable sibling of the MLlib codebook in embedding_kmeans)."""
    return _sim.kmeans_lloyd(_emb(spark, sf_dir))


def q_embedding_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-stratified diversity sample over the deterministic IVF
    cells (per-cell top-N most-central vectors)."""
    return _sim.ivf_diverse_sample(_emb(spark, sf_dir))


def q_embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: IVF-cell clustering + within-cell
    cosine prune keeping the lowest-id representative."""
    return _sim.semdedup_survivors(_emb(spark, sf_dir))


def q_text_decontaminate_semantic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space benchmark decontamination: IVF-cell-confined
    cosine screen of training vectors against the benchmark embedding
    set — the paraphrased-contamination case the lexical n-gram
    screens miss."""
    return _sim.semantic_decontaminate(_emb(spark, sf_dir))


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.token_counts(_docs(spark, sf_dir))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.quality_scores(_docs(spark, sf_dir))


def q_text_hashing_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision-load histogram for the hashed vectorizer (the number
    that sizes FH_DIM)."""
    return _text.hashing_collision_report(_docs(spark, sf_dir))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.lang_id(_docs(spark, sf_dir))


def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.fingerprints(_docs(spark, sf_dir))


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per language (explode + agg + per-lang rank)."""
    return _text.top_terms_per_lang(_docs(spark, sf_dir))


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only PII / entity scrub: redaction count + md5 of scrubbed
    text (RE2-compatible alternation so both engines match)."""
    return _text.redact_pii(_docs(spark, sf_dir))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition scoring (dup word/trigram ratios) — the
    Gopher-style quality rule; map-only higher-order array exprs."""
    return _text.repetition_scores(_docs(spark, sf_dir))


def q_docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width word-window chunking (1 -> N rows for
    context-window training data); chunk_id derived, not positional."""
    return _text.chunk_documents(_docs(spark, sf_dir))


def q_docs_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunker as a Python UDTF (1 row -> N rows): same rule and
    same oracle as docs_chunks, so native expressions, the Python
    UDTF path, and DuckDB must all hash-agree."""
    return _text.chunk_documents_udtf(spark, _docs(spark, sf_dir))


def q_docs_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture report per (source, lang): docs, tokens, corpus
    token share, exact integral quality sum."""
    return _text.source_mix(_docs(spark, sf_dir))


def q_docs_quality_topfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-percentile filter: keep each language's
    top fraction by quality score (deterministic tiebreak)."""
    return _text.quality_top_fraction(_docs(spark, sf_dir))


def q_pysource_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 DataSource API): synthetic
    deterministic documents, partition-planned generation; sf_dir
    unused (the source is its own data). Oracle regenerates the same
    rows from range()+md5 in DuckDB."""
    return _pds.synthetic_docs(spark)


def q_pysink_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (Spark 4 write path): documents
    round-tripped through the jsonl_sink two-phase task-commit writer
    and re-read with a pinned schema — hash-equals the parquet table,
    proving the pluggable write path is lossless and only committed
    files publish."""
    return _pds.docs_pysink_roundtrip(spark, sf_dir)


def q_text_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence pairs with PMI (word2vec training-pair
    extraction); map-local pair generation, broadcast unigram joins."""
    return _text.skipgram_pmi(_docs(spark, sf_dir))


def q_events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: most common per-session event-type
    sequences (ordered, truncated, '>'-joined) with session/user
    counts."""
    return _ev.session_paths(load_table(spark, sf_dir, "events"))


def q_events_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long): melt the per-user type pivot back to long
    rows, zeros included (Expand node, no extra shuffle)."""
    return _tmp.user_type_unpivot(load_table(spark, sf_dir, "events"))


def q_dedup_fuzzy_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-match pairs ((lang, first-word) blocks
    bound the quadratic step; integer edit distance, exact parity)."""
    return _dedup.fuzzy_prefix_pairs(_docs(spark, sf_dir))


def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via positional inverted index (posexplode
    posting lists, adjacency equi-join)."""
    return _text.phrase_search(_docs(spark, sf_dir))


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: per-variant user metrics + Welch z on
    pre-rounded moments (two hash-aggs total)."""
    return _tmp.ab_test_report(load_table(spark, sf_dir, "events"))


def q_docs_er_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: blocked candidate pairs scored by token
    Jaccard + prefix edit similarity, integer-exact 0.6 threshold."""
    return _dedup.er_matches(_docs(spark, sf_dir))


def q_docs_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage: latent-class EM over the
    8-row agreement-pattern contingency of the blocked candidate
    pairs (2 unrolled rounds, 9-dp pre-rounded parameters); per
    pattern posterior + log-odds match weight."""
    return _dedup.fellegi_sunter_weights(_docs(spark, sf_dir))


def q_docs_template_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-normalized duplicate groups (digits->0, whitespace
    collapsed) — the boilerplate families exact dedup misses."""
    return _dedup.template_dedup(_docs(spark, sf_dir))


def q_docs_phonetic_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic-blocked ER: simplified-Soundex first-word blocks
    (spelling-robust), stop-block cap, Levenshtein verify."""
    return _dedup.phonetic_er_pairs(_docs(spark, sf_dir))


def q_parts_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler over blocked part-name pairs as a packed-array
    greedy-matching fold (no UDF); oracle replays the fold one char
    per recursive-CTE step — third resolved deferred-ledger entry."""
    return _dedup.jaro_winkler_pairs(load_table(spark, sf_dir, "part"))


def q_xml_ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest round-trip (Spark 4 native XML, pinned schema):
    distributed write + schema-driven re-read must equal the parquet
    table."""
    return events_xml_roundtrip(spark, sf_dir)


def q_orc_ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip ingest: events written to and re-read from ORC
    with the pinned schema must equal the parquet table at full type
    fidelity (timestamps/doubles/strings untransformed)."""
    return events_orc_roundtrip(spark, sf_dir)


def q_sql_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE date spine with zero-filled daily counts (Spark 4
    WITH RECURSIVE through the SQL front-end)."""
    return _sqlapi.sql_daily_gapfill(spark, sf_dir)


def q_sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL named-WINDOW clause: one shared window family feeding
    rank/share/count (basket-bounded partitions)."""
    return _sqlapi.sql_named_window(spark, sf_dir)


def q_sql_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> vs =) join semantics, proven in-band
    by per-bucket match counts under both operators."""
    return _sqlapi.sql_nullsafe_join(spark, sf_dir)


def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (BEGIN/DECLARE/SET/WHILE): iterated-mean
    peel over order values — loop-carried scalar state, one
    distributed agg per round, unrolled in the oracle."""
    return _sqlapi.sql_scripting_peel(spark, sf_dir)


def q_sql_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL INTERSECT/EXCEPT/LEFT SEMI JOIN syntax over the two
    ship-window halves (set algebra compiled to distinct+semi/anti
    joins)."""
    return _sqlapi.sql_setops_halves(spark, sf_dir)


def q_sql_urgent_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL parser; Catalyst
    decorrelates into left-semi + left-anti hash joins."""
    return _sqlapi.sql_urgent_only_customers(spark, sf_dir)


def q_sql_part_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped NOT IN subquery through the SQL parser;
    Catalyst plans a null-aware broadcast anti-join."""
    return _sqlapi.sql_part_supplier_stats(spark, sf_dir)


def q_sql_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated scalar-aggregate subquery; Catalyst
    decorrelates it into a per-key pre-aggregation join."""
    return _sqlapi.sql_small_qty_revenue(spark, sf_dir)


def q_sql_pipe_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (FROM |> WHERE |> AGGREGATE) through
    the parser, oracle-pinned to classic SQL semantics."""
    return _sqlapi.sql_pipe_priority_stats(spark, sf_dir)


def q_sql_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (per-customer top-2 orders)."""
    return _sqlapi.sql_lateral_top_orders(spark, sf_dir)


def q_sql_customer_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE) ancestor-chain walk over a
    synthetic 7-ary customer hierarchy; declarative transitive
    closure, fixpoint-equal in both engines."""
    return _sqlapi.sql_customer_chain(spark, sf_dir)


def q_plan_lint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight physical-plan lint over a representative set of the
    engine's own plans: flags cartesian/nested-loop joins, Python
    row-UDFs, and single-partition exchanges, plus a shuffle count per
    plan — the QA gate a pipeline runs before submitting a DAG to a
    1000-executor cluster. Plan metadata, not data: rows-only by
    nature (no SQL oracle exists for an execution plan).

    The report deliberately includes a true positive: brute-force ANN
    IS a broadcast nested-loop (5 query vectors against the corpus —
    the exactness baseline, acceptable because the build side is
    tiny), and the linter surfaces it instead of special-casing it —
    a reviewer decides, the tool reports."""
    from concurrent.futures import ThreadPoolExecutor

    from big_data_instacart_market_basket_analysis_spark.operators import (
        trees as _trees,
    )

    t = instacart_tables(spark, sf_dir)
    # the stable events handle shares the session's staged feature
    # tables with the ml_* queries, so building these plans does not
    # re-execute the eager staging checkpoints (r8: the board line was
    # 9s because every builder re-staged from a fresh load_table
    # identity); the LINTED plan text is unchanged — staging affects
    # the builders' inputs, not the lint rules.
    builders = {
        "product_features": lambda: _feat.product_features(t),
        "users_final": lambda: _feat.users_final(t),
        "events_sessionize": lambda: _ev.sessionize(
            load_table(spark, sf_dir, "events")
        ),
        "ann_brute_force": lambda: _sim.brute_force_topk(
            _emb(spark, sf_dir)
        ),
        "text_quality": lambda: _text.quality_scores(
            _docs(spark, sf_dir)
        ),
        # round-3 heavies: the navigable-graph beam (staged-index
        # joins + per-round windows) and the bootstrap forest (per-
        # tree weighted hist aggs) — the two most join-dense new
        # plans. The lint deliberately builds the RAW search plan
        # (graph_ann_topk_plan), not the session-staged result, so the
        # linted text is the same in every session regardless of what
        # ran before.
        "ann_graph_beam": lambda: _sim.graph_ann_topk_plan(
            _emb(spark, sf_dir)
        ),
        # round-4: the distributed-rank conversions — these plans must
        # show ZERO user-grain global windows (the `global-window`
        # rule catches only the bounded #partitions-row offsets table,
        # if anything)
        "events_spend_deciles": lambda: _tmp.user_spend_deciles(
            load_table(spark, sf_dir, "events")
        ),
        "events_rfm_segments": lambda: _tmp.rfm_segments(
            load_table(spark, sf_dir, "events")
        ),
        "ml_rf_verified": lambda: _trees.rf_train(
            load_table(spark, sf_dir, "events")
        ),
    }
    # the nine builders are independent construction work — mostly
    # py4j round-trips plus a few staged-frontier checkpoint jobs —
    # so they run from a thread pool (guide §2.6); dict order is
    # preserved, so the report rows are byte-identical to the serial
    # build. Staged inputs are materialized up front (single-threaded)
    # so concurrent builders never race a staging cache miss.
    load_table(spark, sf_dir, "events")
    _emb(spark, sf_dir)
    _docs(spark, sf_dir)
    names = list(builders)
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        built = list(pool.map(lambda n: builders[n](), names))
    plans = dict(zip(names, built))
    return _prof.lint_report(spark, plans)


def q_sql_dynamic_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE + IDENTIFIER(?) + USING: injection-safe
    dynamic SQL with a parameter-bound table name."""
    return _sqlapi.sql_dynamic_identifier(spark, sf_dir)


def q_sql_var_param_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables (DECLARE/SET VAR) + named query
    parameters, both resolved to constants at plan time — pushdown
    identical to hand-inlined literals."""
    return _sqlapi.sql_var_param_revenue(spark, sf_dir)


def q_sql_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-syntax PIVOT -> UNPIVOT round-trip (parser surface distinct
    from DataFrame groupBy().pivot())."""
    return _sqlapi.sql_pivot_returnflag(spark, sf_dir)


def q_text_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 over the same deterministic (ref, cand) pairs as ROUGE:
    clipped modified precisions + brevity penalty from the shared
    exact-integer n-gram base."""
    return _text.bleu_pairs(_docs(spark, sf_dir))


def q_text_lexical_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc TTR / Guiraud RTTR / Maas lexical-diversity indices —
    the boilerplate-detection quality feature beside the corpus
    Heaps/Zipf fits."""
    return _text.lexical_diversity(_docs(spark, sf_dir))


def q_events_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart of the daily error-event rate: exact counts,
    3-sigma binomial limits, rounded-literal out-of-control flags."""
    return _tmp.error_pchart(load_table(spark, sf_dir, "events"))


def q_text_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/2 F1 over deterministic (ref, cand) doc pairs: clipped
    multiset n-gram overlap, exact BIGINT numerators, the
    summarization-eval kernel (pair column plugs into any candidate
    generator)."""
    return _text.rouge_pairs(_docs(spark, sf_dir))


def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training step one: adjacent char-pair counts over
    the frequency-weighted vocabulary (never raw text)."""
    return _text.bpe_first_merges(_docs(spark, sf_dir))


def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training loop: the first BPE_MERGES learned merge
    rules (pair counts on the weighted vocab, merge, re-segment)."""
    return _text.bpe_train_merges(_docs(spark, sf_dir))


def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE encode with the trained merges: per-language
    fertility (tokens/word) + chars-per-token — the tokenizer-eval
    rollup; shares the session-staged training run with text_bpe_train."""
    return _text.bpe_fertility(_docs(spark, sf_dir))


def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training: hard-EM
    Viterbi rounds over the distinct-word vocabulary — the other
    tokenizer family beside BPE (r8 verdict task 7)."""
    return _text.unigram_train(_docs(spark, sf_dir))


def q_text_unigram_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM encode with the trained inventory: per-language
    fertility + chars-per-token, shape-compatible with
    text_bpe_fertility for family-vs-family comparison; shares the
    session-staged training run with text_unigram_lm."""
    return _text.unigram_fertility(_docs(spark, sf_dir))


def q_events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: top-k heaviest user_ids with exact
    integer per-mille share of all rows."""
    return _prof.key_skew_report(load_table(spark, sf_dir, "events"))


def q_orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a DataFrame composition: keep / update /
    insert rows tagged, equi-joins only, source broadcastable."""
    return _rel.merge_upsert_orders(load_table(spark, sf_dir, "orders"))


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of value via an explicit sequential fold
    (defined evaluation order -> bit-identical cross-engine)."""
    return _tmp.user_value_ewma(load_table(spark, sf_dir, "events"))


def q_events_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency quartile binning per event_type (ntile over a
    total order) with per-bin occupancy and value range."""
    return _tmp.value_quartile_bins(load_table(spark, sf_dir, "events"))


def q_events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection against each user's 72-hour
    baseline (integer-exact moments over a RANGE frame)."""
    return _tmp.rolling_zscore_anomalies(
        load_table(spark, sf_dir, "events")
    )


def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value stats: clamp into [p05, p95] then
    aggregate (outlier-robust metric cleaning before training)."""
    return _tmp.winsorized_stats(load_table(spark, sf_dir, "events"))


def q_dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivors: per near-dup cluster keep the
    highest-quality member (max_by hash-agg, deterministic ties)."""
    return _dedup.cluster_representatives(_docs(spark, sf_dir))


def q_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source retention accounting after quality-aware survivor
    selection: docs and bytes kept/dropped + keep rate — the
    dedup-to-export audit table (r5 verdict #4)."""
    return _dedup.retention_report(_docs(spark, sf_dir))


def q_docs_pack_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence payload assembly: same batching as
    docs_pack_batches but emitting each batch's EOS-joined payload
    (md5 + length) in deterministic doc_id order."""
    return _text.pack_payloads(_docs(spark, sf_dir))


def q_dedup_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid near-dup merge: lexical (MinHash+LSH) and semantic
    (embedding-cosine) pair sources unioned and labeled by detector."""
    return _dedup.hybrid_near_dup(_docs(spark, sf_dir), _emb(spark, sf_dir))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: anti-join the incoming batch's
    fingerprints against the standing corpus (hash table only, corpus
    text never rescanned), then first-wins within the batch."""
    return _dedup.incremental_dedup(_docs(spark, sf_dir))


def q_docs_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-segment removal (CCNet/RefinedWeb line dedup re-
    expressed for whitespace corpora): hash-agg finds segments shared
    by >1 doc, a broadcast anti-mark strips them, docs reassemble in
    original order — the corpus itself never reshuffles."""
    return _dedup.segment_dedup(_docs(spark, sf_dir))


def q_events_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches: daily per-type user sketches unioned and
    estimated (re-aggregatable distinct counts; rows-only — estimates
    are engine-specific, error-bounded in tests)."""
    return _tmp.daily_sketch_rollup(load_table(spark, sf_dir, "events"))


def q_pagerank_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank over the product co-purchase graph
    (3 unrolled supersteps, plan-only composition, exact hash parity
    with DuckDB's unrolled CTE chain)."""
    return _graph.pagerank_products(_lineitem(spark, sf_dir))


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the co-purchase graph: low-to-high
    edge orientation enumerates each triangle once via two equi-joins
    (the MapReduce triangle-join; no theta join)."""
    return _graph.triangle_counts(_lineitem(spark, sf_dir))


def q_graph_clustering_coef(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient per node + global transitivity —
    one join over the session-staged triangle and edge lists."""
    return _graph.clustering_coefficient(_lineitem(spark, sf_dir))


def q_graph_item_sim_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out recommender eval: hit-rate@k of the item-item model
    trained on 80% of orders, scored on the held-out 20%."""
    return _graph.item_sim_holdout_eval(_lineitem(spark, sf_dir))


def q_graph_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative similarity (neighborhood Jaccard via
    the wedge join, per-item top-k)."""
    return _graph.item_similarity(_lineitem(spark, sf_dir))


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances from the 3 lowest-id products
    (unrolled integer supersteps, plan-only composition)."""
    return _graph.bfs_distances(_lineitem(spark, sf_dir))


def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP (fixed-round Bellman-Ford) over the co-purchase
    graph with price-gap edge costs — cheapest substitution distance
    from the 3 lowest-id products, exact within SSSP_ROUNDS hops."""
    return _graph.sssp_weighted(
        _lineitem(spark, sf_dir), load_table(spark, sf_dir, "part")
    )


def q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled approximate betweenness centrality (Brandes
    forward sigma counts + per-level rounded dependency accumulation)
    from BETW_PIVOTS md5-sampled sources, truncated at BETW_HOPS."""
    return _graph.betweenness_approx(_lineitem(spark, sf_dir))


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the customer-part bipartite purchase
    graph — integer-millionth fixed point, multiplication-free
    normalization, unrolled supersteps."""
    return _graph.hits_scores(
        load_table(spark, sf_dir, "orders"), _lineitem(spark, sf_dir)
    )


def q_graph_betweenness_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampling stability eval: two disjoint md5 pivot sets,
    top-k overlap + Pearson agreement - the estimator-honesty harness
    the ANN recall evals set the pattern for."""
    return _graph.betweenness_stability_eval(_lineitem(spark, sf_dir))


def q_graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled closeness + harmonic centrality on the session-
    staged pivot-BFS table (shared with graph_betweenness)."""
    return _graph.closeness_centrality(_lineitem(spark, sf_dir))


def q_graph_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-diameter estimate (max / p90 / mean hop distance)
    from the pivot-BFS distance sample; integer p90 cross-multiply."""
    return _graph.diameter_estimate(_lineitem(spark, sf_dir))


def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (most-frequent
    neighbor label, min-label ties) with community sizes."""
    return _graph.lpa_communities(_lineitem(spark, sf_dir))


def q_docs_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((source), (lang)) in one Expand+agg pass with
    grouping_id disambiguation — the non-hierarchical union that
    ROLLUP/CUBE can't express."""
    return _prof.docs_grouping_sets(_docs(spark, sf_dir))


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid: first-seen-day cohorts x day offset with
    distinct active users and day-0-normalized retention rate."""
    return _tmp.retention_cohorts(load_table(spark, sf_dir, "events"))


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-series downsampling: per (hour, type) open/high/low/
    close via min_by/max_by over the total event-time order — one
    hash-agg, no window."""
    return _tmp.hourly_ohlc(load_table(spark, sf_dir, "events"))


def q_events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic rollup maintenance: standing aggregate + delta batch
    merged without rescanning base rows; the oracle's one-pass
    recompute proves the partial aggregates merge losslessly."""
    return _tmp.incremental_rollup(load_table(spark, sf_dir, "events"))


def q_dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing shingles with
    the benchmark set (first doc_ids), via broadcast shingle join."""
    return _dedup.decontaminate(_docs(spark, sf_dir))


def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc TF-IDF top-3 terms (tf/df hash-aggs + per-doc rank)."""
    return _text.tfidf_top_terms(_docs(spark, sf_dir))


def q_docs_pack_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency curve across token budgets {512..4096}:
    batches, mean fill, overflow — the sequence-length cost readout."""
    return _text.pack_sweep(_docs(spark, sf_dir))


def q_docs_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget training-batch packing per (lang, shard) — window
    cumsum, embarrassingly parallel across shards."""
    return _text.pack_batches(_docs(spark, sf_dir))


def q_json_ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-family on JSON lines: events round-tripped through a
    distributed JSON write + pinned-schema read must equal the parquet
    table."""
    from big_data_instacart_market_basket_analysis_spark.sources import (
        json_ingest as _json,
    )

    return _json.events_json_roundtrip(spark, sf_dir)


def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: JSON payload -> parse_json -> typed
    try_variant_get extractions (top-level, nested path, array index)
    -> daily rollup; oracle aggregates raw columns, proving the
    semi-structured round-trip lossless."""
    from big_data_instacart_market_basket_analysis_spark.sources import (
        json_ingest as _json,
    )

    return _json.variant_daily_rollup(load_table(spark, sf_dir, "events"))


def q_text_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-family on raw text lines: documents round-tripped through a
    distributed text write + limit-split parse must equal the parquet
    table."""
    from big_data_instacart_market_basket_analysis_spark.sources import (
        text_ingest as _ti,
    )

    return _ti.docs_text_roundtrip(spark, sf_dir)


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase annotated with the same user's latest
    click at-or-before it (union-tag-window — ONE shuffle, no
    inequality join)."""
    return _tmp.asof_last_click(load_table(spark, sf_dir, "events"))


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: clicks within +/-30min of each error,
    counted via a (user, time-bucket) equi-join."""
    return _tmp.range_join_nearby_clicks(load_table(spark, sf_dir, "events"))


def q_events_type_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of value per event_type + exact distinct
    users."""
    return _tmp.type_value_quantiles(load_table(spark, sf_dir, "events"))


def q_events_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 dimension join: purchases enriched with the
    user state valid at the purchase timestamp (no future leakage)."""
    return _tmp.pit_enrich_purchases(load_table(spark, sf_dir, "events"))


def q_events_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth per event type (grid-sized lag
    window after one fact hash-agg)."""
    return _tmp.weekly_growth(load_table(spark, sf_dir, "events"))


def q_events_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-type quantiles via mergeable approx_percentile
    sketches (rows-only; error-bound-tested vs the exact anchor)."""
    return _tmp.approx_type_quantiles(load_table(spark, sf_dir, "events"))


def q_events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of purchase value (regr_slope/intercept/corr
    in one hash-agg)."""
    return _tmp.user_value_trend(load_table(spark, sf_dir, "events"))


def q_events_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family over per-user spend: ntile / percent_rank
    / cume_dist with a deterministic tiebreak."""
    return _tmp.user_spend_deciles(load_table(spark, sf_dir, "events"))


def q_events_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (event_type x day-of-week): all grouping sets in one
    shuffle, grouping flags distinguish subtotals from real NULLs."""
    return _tmp.cube_type_dow(load_table(spark, sf_dir, "events"))


def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas per-user trend slope on exact
    integer inputs — Arrow boundary proven lossless by the oracle."""
    return _udafs.grouped_map_slope(load_table(spark, sf_dir, "events"))


def q_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF hash-pinned to its native twin (Arrow
    grouped-agg transport proven lossless)."""
    from big_data_instacart_market_basket_analysis_spark.functions.udafs import (
        grouped_agg_spend,
    )

    return grouped_agg_spend(load_table(spark, sf_dir, "events"))


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per type (step-function integral)
    next to the plain mean."""
    return _tmp.twap_by_type(load_table(spark, sf_dir, "events"))


def q_events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical trend/seasonal/remainder decomposition of the dense
    daily event series."""
    return _tmp.stl_decompose(load_table(spark, sf_dir, "events"))


def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour (sweep line over session
    boundaries, bucketed prefix sums — no global sort)."""
    return _tmp.concurrency_curve(load_table(spark, sf_dir, "events"))


def q_events_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on daily revenue with windowed prominence and a
    cross-multiplied major-peak flag."""
    return _tmp.revenue_peaks(load_table(spark, sf_dir, "events"))


def q_ann_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio nearest-centroid classifier eval — the linear baseline
    beside the kNN vote, on the same held-out split."""
    return _sim.rocchio_classifier_eval(_emb(spark, sf_dir))


def q_ml_poisson_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified Poisson GLM (log link, centered day-trend covariate):
    Newton steps unrolled over the bounded day grain."""
    return _glm.poisson_train(load_table(spark, sf_dir, "events"))


def q_events_approx_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approx-percentile rank-error contract: exact CDF position of
    the sketch median asserted within the declared budget."""
    return _tmp.approx_quantile_check(load_table(spark, sf_dir, "events"))


def q_events_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Haar wavelet energy by resolution level — which
    timescale carries the volatility."""
    return _tmp.haar_energy(load_table(spark, sf_dir, "events"))


def q_events_wht(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Walsh-Hadamard sequency spectrum of daily
    revenue (6 butterfly stages, Parseval self-check)."""
    return _tmp.wht_spectrum(load_table(spark, sf_dir, "events"))


def q_events_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation clicks↔revenue at lags −7..+7 (exact BIGINT
    cross-covariances around floor means)."""
    return _tmp.ccf_report(load_table(spark, sf_dir, "events"))


def q_events_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF at lags 1..5 via unrolled Durbin-Levinson on rounded
    exact-covariance rhos — the Box-Jenkins AR-order pick."""
    return _tmp.pacf_report(load_table(spark, sf_dir, "events"))


def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..14 + cumulative Ljung-Box Q (exact BIGINT
    covariances around the floor mean)."""
    return _tmp.acf_report(load_table(spark, sf_dir, "events"))


def q_events_matrix_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact matrix-profile motif + discord on the day grain: BIGINT
    squared-cent distances, calendar-bounded all-pairs."""
    return _tmp.matrix_profile_report(load_table(spark, sf_dir, "events"))


def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly DAU/MAU stickiness (exact rational avg DAU)."""
    return _tmp.stickiness_report(load_table(spark, sf_dir, "events"))


def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative purchase cents per first-seen
    week cohort by week offset, normalized per member."""
    return _tmp.cohort_ltv(load_table(spark, sf_dir, "events"))


def q_parts_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EOQ per product — the continuous-review inventory rule beside
    the newsvendor fractile."""
    return _tmp.eoq_report(_lineitem(spark, sf_dir))


def q_parts_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor critical-fractile stock per product: integer
    cross-multiplied empirical quantile of demand days."""
    return _tmp.newsvendor_stock(_lineitem(spark, sf_dir))


def q_orders_service_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly fill rate + exact p90 lead time (per-month prefix sums
    on the distinct lead-day grain)."""
    return _tmp.service_level_report(
        load_table(spark, sf_dir, "orders"), _lineitem(spark, sf_dir)
    )


def q_orders_erlang_blocking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Erlang-B staffing curve: exact-integer blocking probability
    (millionths) for 1..12 servers at the corpus-derived offered
    load (M/M/s/s loss model; J(s) = a^s + s*J(s-1) recursion)."""
    return _tmp.erlang_blocking_curve(load_table(spark, sf_dir, "orders"))


def q_orders_erlang_wait(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Erlang-C staffing curve: exact-integer waiting probability and
    mean queue wait for 1..12 servers at the capped offered load
    (M/M/s queue; same J(s) recursion as Erlang-B, all-integer
    P_wait = a^s*s / ((s-a)(J-a^s) + a^s*s))."""
    return _tmp.erlang_wait_curve(load_table(spark, sf_dir, "orders"))


def q_events_kendall_tau(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall tau-b + Mann-Kendall z on the daily revenue series:
    exact integer pair counting over the calendar-bounded day grain."""
    return _tmp.kendall_tau_daily(load_table(spark, sf_dir, "events"))


def q_events_kruskal_wallis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis H across event types with exact mid-rank ties:
    cent-grain ranks via the octave-bucket prefix kernel (zero global
    windows), tie-corrected H from 5 exact integer group rows."""
    return _tmp.kruskal_wallis(load_table(spark, sf_dir, "events"))


def q_events_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's variance-homogeneity F on |x - group mean| with the
    deviation carried as an exact integer numerator (|c*n_g - s_g|),
    so no rational ever rounds before the final 5-row assembly."""
    return _tmp.levene_test(load_table(spark, sf_dir, "events"))


def q_events_durbin_watson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Durbin-Watson first-order serial-correlation screen on daily
    revenue: both quadratic forms exact DECIMAL(38,0), one final
    division."""
    return _tmp.durbin_watson(load_table(spark, sf_dir, "events"))


def q_events_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs extreme studentized deviate of daily revenue: exact
    integer argmax (n-scaled deviations, min-day ties), G assembled
    in doubles at the end."""
    return _tmp.grubbs_extreme(load_table(spark, sf_dir, "events"))


def q_events_brown_forsythe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Forsythe median-based variance homogeneity: exact
    per-group median order statistics via per-group octave prefixes,
    integer deviations, 5-row F assembly."""
    return _tmp.brown_forsythe(load_table(spark, sf_dir, "events"))


def q_events_cliffs_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cliff's delta ordinal effect size purchases-vs-clicks: all
    three pair counts exact via the cent-grain prefix kernel — no
    pair join."""
    return _tmp.cliffs_delta(load_table(spark, sf_dir, "events"))


def q_events_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over the user x type incidence matrix: exact
    k-scaled integer form, k-row assembly."""
    return _tmp.cochran_q(load_table(spark, sf_dir, "events"))


def q_events_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered-alternative trend across the 7-day revenue
    cycle: Friedman's doubled-midrank grid weighted by position,
    gapfilled complete blocks only."""
    return _tmp.page_trend(load_table(spark, sf_dir, "events"))


def q_events_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis over dyadic day
    windows: integer-exact R and sd moments per block, 3-point
    log-log OLS."""
    return _tmp.hurst_exponent(load_table(spark, sf_dir, "events"))


def q_events_weibull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale by median-rank regression on the packed
    day series — sequential same-IEEE folds in both engines."""
    return _tmp.weibull_fit(load_table(spark, sf_dir, "events"))


def q_join_order_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """System-R join-order enumeration over the C-O-L chain with the
    independence cardinality model; Cartesian-leading permutations
    rank last by construction."""
    return _prof.join_order_advisor(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_events_aqp_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate SUM from the deterministic 10% sample with a CLT
    99% bound, audited against the exact answer in the same row."""
    return _prof.aqp_revenue(load_table(spark, sf_dir, "events"))


def q_events_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises: fully exact integer core via the
    prefix kernel, one final division."""
    return _tmp.cramer_von_mises(load_table(spark, sf_dir, "events"))


def q_events_anderson_darling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Anderson-Darling (Scholz-Stephens ties version):
    doubled-midrank integer cumulatives, O(1) closed-form harmonic
    constants for the variance standardization."""
    return _tmp.anderson_darling_2s(load_table(spark, sf_dir, "events"))


def q_events_rayleigh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean / Rayleigh uniformity of purchase hour: 24 exact
    hour counts, packed same-IEEE trig folds, exp(-z) approx p."""
    return _tmp.rayleigh_hour(load_table(spark, sf_dir, "events"))


def q_events_vonmises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Mises concentration of purchase hours: mean resultant
    length + Fisher's closed-form kappa from shared trig literals —
    the fit half of the circular shelf beside the Rayleigh test."""
    return _tmp.vonmises_fit(load_table(spark, sf_dir, "events"))


def q_events_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy of daily event counts: stable-rank
    ordinal patterns over the gap-filled calendar, ln-of-exact-integer
    entropy — the model-free predictability number."""
    return _tmp.permutation_entropy(load_table(spark, sf_dir, "events"))


def q_events_sample_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SampEn(m=2, r=mean/5) of daily counts — integer template
    matching over the bounded calendar, one ln at the end."""
    return _tmp.sample_entropy(load_table(spark, sf_dir, "events"))


def q_embedding_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased MMD² drift statistic between the even/odd embedding
    panels under a quadratic kernel (dot-product arithmetic only)."""
    return _sim.embedding_mmd(_emb(spark, sf_dir))


def q_events_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg two-state burst segmentation of daily counts: fully
    integer Viterbi (quantized Poisson cost difference, shared ln B
    literal) folded over the packed calendar array; recursive-CTE
    oracle replays the identical automaton."""
    return _tmp.burst_detection(load_table(spark, sf_dir, "events"))


def q_embedding_intrinsic_dim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TwoNN intrinsic dimensionality from the staged brute-force
    2-NN distances — the manifold-thinness diagnostic."""
    return _sim.intrinsic_dim_twonn(_emb(spark, sf_dir))


def q_embedding_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence hubness skewness over the staged truth lists —
    the curse-of-dimensionality symptom check for kNN pipelines."""
    return _sim.hubness_skew(_emb(spark, sf_dir))


def q_events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct-sum daily periodogram at integer periods 2..14 days
    (mean-centered, gap-filled day series; packed same-IEEE trig
    folds — retires the r6/r7 DFT deferral via the Rayleigh
    protocol)."""
    return _tmp.periodogram_daily(load_table(spark, sf_dir, "events"))


def q_events_lru_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user capacity-k LRU hit-rate curve (k in 1,2,4,8): exact
    integer array fold per user, recursive-CTE oracle replay."""
    return _tmp.lru_hitrate(load_table(spark, sf_dir, "events"))


def q_events_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS top-20 outliers: three bounded-grain histograms
    (hour/dow/value-octave), score = 3 ln N - ln(n_h n_d n_v) — the
    no-pairwise-structure outlier screen."""
    return _tmp.hbos_outliers(load_table(spark, sf_dir, "events"))


def q_events_yuen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's 20%-trimmed-mean two-sample test (purchase vs click
    values): exact cent-grain order statistics via the octave prefix
    kernel; only the final t/df chain divides."""
    return _tmp.yuen_trimmed_test(load_table(spark, sf_dir, "events"))


def q_events_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event_type × day-of-week
    association: full zero-filled contingency grid, integral chi2
    numerators, V = sqrt(chi2 / (n·k))."""
    return _tmp.cramers_v(load_table(spark, sf_dir, "events"))


def q_events_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST mean-equivalence of purchase vs click values (two
    one-sided Welch z-tests against a ±10%·mean margin) — the
    statistically sound 'no change' claim."""
    return _tmp.tost_equivalence(load_table(spark, sf_dir, "events"))


def q_events_mh_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio + chi-square of weekend
    exposure on purchase-vs-click odds across six-hour strata —
    the Simpson's-paradox-safe stratified 2x2 summary."""
    return _tmp.mantel_haenszel(load_table(spark, sf_dir, "events"))




def q_events_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett normal-theory variance homogeneity: exact group
    moments, ln chain with small-sample correction."""
    return _tmp.bartlett_test(load_table(spark, sf_dir, "events"))


def q_events_welch_anova(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Welch heteroscedastic one-way ANOVA: inverse-variance weights
    from exact group moments, k-row assembly."""
    return _tmp.welch_anova(load_table(spark, sf_dir, "events"))


def q_events_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman blocked rank test (types ranked within each day):
    all-integer Conover form — doubled mid-ranks from the k^2/day
    grid, chi2 as a ratio of two exact BIGINTs."""
    return _tmp.friedman_test(load_table(spark, sf_dir, "events"))


def q_events_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairs after the ANOVA omnibus: studentized
    range q per type pair from the same exact integer moments."""
    return _tmp.tukey_hsd(load_table(spark, sf_dir, "events"))


def q_orders_lot_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wagner-Whitin optimal lot-sizing frontier as an all-integer
    min-plus shortest path, solved by distributed matrix squaring
    over the calendar-bounded month graph."""
    return _tmp.lot_sizing_frontier(load_table(spark, sf_dir, "orders"))


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram novelty attribution: credit each distinct
    trigram to its corpus-first owner, score docs by the share of
    vocabulary they introduce (doc-grain Heaps complement)."""
    return _text.novelty_attribution(load_table(spark, sf_dir, "documents"))


def q_events_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel block-maxima fit (method of moments on exact-integer
    daily maxima of hourly revenue) with the 30-block return level."""
    return _tmp.gumbel_maxima(load_table(spark, sf_dir, "events"))


def q_events_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping between the daily click and purchase
    series: packed-array DP kernel vs the oracle's antidiagonal
    wavefront recursion — exact BIGINT warp distance (resolves the
    deferred-ledger 'cross-dependent DP state' entry)."""
    return _tmp.dtw_alignment(load_table(spark, sf_dir, "events"))


def q_docs_nw_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needleman-Wunsch global token alignment of the two anchor
    docs (packed-array max-DP kernel vs wavefront oracle with
    per-parent candidate contributions) — second resolved
    deferred-ledger DP entry."""
    return _text.nw_alignment(load_table(spark, sf_dir, "documents"))


def q_events_variance_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hartley's Fmax variance-homogeneity screen across event types
    — the ANOVA assumption check."""
    return _tmp.variance_ratio_screen(load_table(spark, sf_dir, "events"))


def q_events_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank on paired pre/post per-user spend
    (doubled midranks, tie-corrected normal z)."""
    return _tmp.wilcoxon_signed_rank(load_table(spark, sf_dir, "events"))


def q_events_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired-binary test: purchase in first vs second half,
    chi2 on the discordant cells."""
    return _tmp.mcnemar_test(load_table(spark, sf_dir, "events"))


def q_events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue direction — the
    i.i.d. admission test for the forecasting family."""
    return _tmp.runs_test(load_table(spark, sf_dir, "events"))


def q_ann_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) quantized Hamming top-k: two 32-bit words per
    vector, XOR+popcount distance."""
    return _sim.binary_ann_topk(_emb(spark, sf_dir))


def q_ann_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the 1-bit index vs exact cosine truth — the cost
    of 32x compression, quantified."""
    return _sim.binary_ann_recall(_emb(spark, sf_dir))


def q_events_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time: area under the KM curve to
    tau=21 days (lead() steps over the bounded duration grain)."""
    return _tmp.rmst_report(load_table(spark, sf_dir, "events"))


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top pre-conversion journey paths (capped ordered prefix,
    deterministic top-N) with per-path conversion rates."""
    return _tmp.top_paths(load_table(spark, sf_dir, "events"))


def q_events_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality: lagged clicks vs lagged revenue on the day
    series — nested verified-OLS F-test (Cramer 3x3 vs 2x2)."""
    return _glm.granger_test(load_table(spark, sf_dir, "events"))


def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficients at fixed degree thresholds: one edge
    pass with conditional sums, exact BIGINT densities."""
    return _graph.rich_club(_lineitem(spark, sf_dir))


def q_ann_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified kNN classifier eval: majority-vote over exact cosine
    neighbors, packed-BIGINT argmax, per-class accuracy."""
    return _sim.knn_classifier_eval(_emb(spark, sf_dir))


def q_events_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges g + CI for the A/B spend contrast (exact
    BIGINT moments, one closed-form expression each)."""
    return _tmp.effect_size_report(load_table(spark, sf_dir, "events"))


def q_events_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill power-law tail index of the spend distribution (top-5%
    tail via descending distinct-value prefix sums)."""
    return _tmp.hill_tail_index(load_table(spark, sf_dir, "events"))


def q_docs_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the Gopher and CCNet quality raters
    (chance-corrected agreement on exact 2x2 cells)."""
    return _text.rater_kappa(load_table(spark, sf_dir, "documents"))


def q_docs_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal, 3 raters: Gopher, CCNet
    tercile, length heuristic) — exact-integer disagreement ratio."""
    return _text.krippendorff_alpha(load_table(spark, sf_dir, "documents"))


def q_docs_vocab_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-vocabulary estimate + Good-Turing coverage from
    the frequency-of-frequencies table (exact integer tallies)."""
    return _text.vocab_chao1(load_table(spark, sf_dir, "documents"))


def q_docs_source_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary Jaccard between source pairs — do the crawls
    contribute distinct language, or mirror each other?"""
    return _text.source_vocab_overlap(
        load_table(spark, sf_dir, "documents")
    )


def q_events_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking (IPF) on the type×variant grid to uniform/50-50
    target margins — integer-millionth unrolled rounds."""
    return _tmp.ipf_raking(load_table(spark, sf_dir, "events"))


def q_orders_reorder_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s,S) reorder-policy simulation over daily purchase demand -
    all-integer day fold, recursive-CTE-verified."""
    return _tmp.reorder_policy_sim(load_table(spark, sf_dir, "events"))


def q_orders_atkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (eps=1/2, sqrt-exact generalized
    mean) of customer revenue - welfare-grounded beside Gini/Theil."""
    return _tmp.atkinson_index(load_table(spark, sf_dir, "orders"))


def q_events_adstock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-window adstock + saturation on daily clicks; exact
    dyadic decay terms (clicks / 2^age), day-grain range self-join."""
    return _tmp.adstock_daily(load_table(spark, sf_dir, "events"))


def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares changepoint (binary segmentation, first split) on
    daily purchase revenue; exact HUGEINT/DECIMAL argmax."""
    return _tmp.changepoint_split(load_table(spark, sf_dir, "events"))


def q_events_stratified_ate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Post-stratified ATE over engagement quartiles: within-stratum
    arm contrasts + weights, ATE = Σ contributions."""
    return _tmp.stratified_ate(load_table(spark, sf_dir, "events"))


def q_delta_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding advisor over sorted integer keys: bucketed
    two-level max-gap, integer bin()-length bit widths."""
    return _prof.delta_encoding_advisor(
        {
            "orders": load_table(spark, sf_dir, "orders"),
            "lineitem": _lineitem(spark, sf_dir),
            "events": load_table(spark, sf_dir, "events"),
            "customer": load_table(spark, sf_dir, "customer"),
        }
    )


def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres/Paasche/Fisher monthly price indices vs the base
    month's matched basket (rational month-part prices)."""
    return _ana.price_index_report(_lineitem(spark, sf_dir))


def q_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI + CR4 brand-revenue concentration (exact cents, bounded
    brand grain)."""
    return _ana.market_hhi(
        _lineitem(spark, sf_dir), load_table(spark, sf_dir, "part")
    )


def q_parts_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classes via descending distinct-revenue prefix
    sums and cross-multiplied integer 80/95 cuts."""
    return _ana.abc_classes(_lineitem(spark, sf_dir))


def q_parts_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: Lorenz revenue classes x weekly
    demand-variability classes (CV cut by exact cross-multiplied
    integers, zero weeks included via the shared calendar count)."""
    return _ana.abc_xyz_matrix(
        _lineitem(spark, sf_dir), load_table(spark, sf_dir, "orders")
    )


def q_events_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between the arms' churn survival curves:
    hypergeometric O−E/V terms on exact at-risk prefix sums."""
    return _tmp.logrank_test(load_table(spark, sf_dir, "events"))


def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog sweep line (+1 orderdate, −1 last receipt);
    cumulative window on the bounded day grain."""
    return _tmp.orders_backlog_curve(
        load_table(spark, sf_dir, "orders"), _lineitem(spark, sf_dir)
    )


def q_events_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift deciles + cumulative Qini on the randomized arms
    (distinct-score prefix-sum deciles, exact BIGINT counts)."""
    return _tmp.qini_uplift(load_table(spark, sf_dir, "events"))


def q_events_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPS/SNIPS off-policy replay evaluation of an engagement-
    targeting policy on the uniformly randomized A/B log."""
    return _tmp.offpolicy_ips(load_table(spark, sf_dir, "events"))


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity per LPA community (e_in/|E| − (d/|E|)²),
    exact BIGINT counts on the staged edge list."""
    return _graph.community_modularity(_lineitem(spark, sf_dir))


def q_events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the censored user
    lifetimes (additive hazard view beside the KM product)."""
    return _tmp.nelson_aalen(load_table(spark, sf_dir, "events"))


def q_events_group_sequential(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O'Brien-Fleming group-sequential A/B looks: cumulative exact
    cent moments per epoch, fixed boundary literals."""
    return _tmp.group_sequential_test(load_table(spark, sf_dir, "events"))


def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint suite over lineitem/orders:
    scan-shared conditional aggs + one distinct-key anti join."""
    return _prof.dq_constraint_report(
        _lineitem(spark, sf_dir), load_table(spark, sf_dir, "orders")
    )


def q_mv_rollup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-proving MV rollup rewrite: (year,month,brand) MV answers
    the (year,brand) query; base answer + equality flag in-band."""
    return _rel.mv_rollup_rewrite(
        _lineitem(spark, sf_dir), load_table(spark, sf_dir, "part")
    )


def q_events_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-lifetime survival curve with right-censoring
    of still-active users."""
    return _tmp.km_survival(load_table(spark, sf_dir, "events"))


def q_events_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified Cox proportional hazards (Breslow ties) of
    time-to-first-purchase on engagement: Newton iterations on the
    calendar x bin grid — per-round beta, score, information,
    hazard ratio."""
    return _tmp.cox_ph_train(load_table(spark, sf_dir, "events"))


def q_events_type_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of hourly event-type count series
    (dense hour grid, integral sums)."""
    return _tmp.type_correlations(load_table(spark, sf_dir, "events"))


def q_events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience overlap via 63-bit bitmap sketches
    (bit_or agg + popcount algebra)."""
    return _tmp.bitmap_retention(load_table(spark, sf_dir, "events"))


def q_events_markov_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov next-event predictor backtest: argmax-transition
    predictions scored against actual next events."""
    return _tmp.markov_predict_eval(load_table(spark, sf_dir, "events"))


def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint pairs: window-min k-gram sampling
    with the guaranteed-detection property."""
    return _dedup.winnowing_pairs(_docs(spark, sf_dir))


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing 5-grams with the
    pseudo held-out set (broadcast postings semi-join)."""
    return _dedup.decontaminate_ngram(_docs(spark, sf_dir))


def q_events_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-style parallel downsampling of the click value series
    (largest-triangle picks against rounded bucket anchors)."""
    return _tmp.lttb_downsample(load_table(spark, sf_dir, "events"))


def q_events_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principles HyperLogLog distinct-user estimates per type
    (+ 'ALL'), registers and estimates hash-verified."""
    return _tmp.hll_distinct(load_table(spark, sf_dir, "events"))


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densify: per-(type, day) counts with explicit zeros on
    missing days plus cumulative counts."""
    return _tmp.gapfill_daily_counts(load_table(spark, sf_dir, "events"))


def q_events_cms_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: deterministic md5-slot sketch,
    estimates hash-verified next to exact truth."""
    return _tmp.cms_heavy_hitters(load_table(spark, sf_dir, "events"))


def q_ml_als_bpr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPR-AUC of the verified ALS model vs deterministic negatives —
    the fully hash-verified train->sample->evaluate loop."""
    return _mf.als_bpr_auc(instacart_tables(spark, sf_dir))


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based negative sampling for implicit-feedback
    training (users x tries candidates, positives anti-joined)."""
    return _samp.negative_samples(instacart_tables(spark, sf_dir))


def q_ml_als_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified rank-1 ALS matrix factorization on implicit purchase
    counts (per-round SSE + factor norms, unrolled-CTE oracle)."""
    return _mf.als_rank1(instacart_tables(spark, sf_dir))


def q_ml_logreg_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified logistic regression: full-batch GD, per-round weights +
    loss curve engine-exact (unrolled-CTE oracle)."""
    return _glm.logreg_train(load_table(spark, sf_dir, "documents"))


def q_ml_ols_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified OLS: closed-form normal-equation solve (one moment agg
    + Cramer 3x3), coefficients/R2 engine-exact."""
    return _glm.ols_train(load_table(spark, sf_dir, "events"))


def q_ml_ols_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold OLS cross-validation trained in ONE pass (per-fold
    moment rows; training moments by subtraction; held-out R2 from
    the algebraic SSE expansion)."""
    return _glm.ols_cv(load_table(spark, sf_dir, "events"))


def q_ml_conformal_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals on the verified OLS:
    binned calibration quantile (bounded walk), test-split coverage
    vs the 90% target — the distribution-free guarantee, measured."""
    return _glm.conformal_ols(load_table(spark, sf_dir, "events"))


def q_ml_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (PAV) calibrating conversion rate on an
    engagement score via the exact minimax formulation over a
    <= ISO_BINS score grain — monotone fit, engine-exact."""
    return _glm.isotonic_calibration(load_table(spark, sf_dir, "events"))


def q_ml_platt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling: sigmoid(a*s + c) conversion calibration fitted
    by bounded-bin-grain GD (8 rounds, 9-dp-rounded weights) on the
    same score bins as the isotonic calibrator — the parametric
    member of the calibration family."""
    return _glm.platt_calibration(load_table(spark, sf_dir, "events"))


def q_events_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked weighted DBSCAN over (user, dow) activity points;
    oracle replays the textbook quadratic epsilon-join + recursive
    closure — hash match proves grid blocking is lossless."""
    return _clu.dbscan_clusters(load_table(spark, sf_dir, "events"))


def q_events_density_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eps-graph relative-density outlier factor (the LOF analog on
    the DBSCAN grid): integer density ratios, cross-multiplied 3/2
    flag; oracle replays the quadratic eps-join."""
    return _clu.relative_density_outliers(
        load_table(spark, sf_dir, "events")
    )


def q_events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified Poisson bootstrap: one-pass B-replica resampling, CI of
    the mean from the replica-mean distribution."""
    return _tmp.bootstrap_mean_ci(load_table(spark, sf_dir, "events"))


def q_events_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified mergeable histogram quantiles (additive sketch; est +
    exact type-7 truth per event_type)."""
    return _tmp.histogram_quantiles(load_table(spark, sf_dir, "events"))


def q_events_kmv_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: union/intersection/Jaccard estimates
    between purchase-day and click-day user sets, from sketches only."""
    return _tmp.kmv_set_algebra(load_table(spark, sf_dir, "events"))


def q_events_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable KMV distinct sketch: per-day bottom-k
    hash sets + merged 'ALL' row, estimates hash-verified."""
    return _tmp.kmv_distinct_sketch(load_table(spark, sf_dir, "events"))


def q_events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct users per type, released as the
    checked projection: exact count + declared 3*rsd error budget +
    within_bound flag the oracle asserts TRUE (the raw HLL value is
    engine-register-specific; its quality is what the flag pins)."""
    return _tmp.approx_distinct_users_checked(
        load_table(spark, sf_dir, "events")
    )


def q_docs_split_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (map-only; dup
    texts co-locate in one split — the leakage guard)."""
    return _samp.split_by_hash(_docs(spark, sf_dir))


def q_docs_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: dense 1..N
    positions in md5(seed:doc_id) order, assigned distributively via
    256 range buckets + prefix-sum offsets (no single-partition
    window)."""
    return _samp.global_shuffle(_docs(spark, sf_dir))


def q_events_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TABLESAMPLE twins (BERNOULLI per-row + SYSTEM
    per-512-row-block md5-threshold draws) — the engine-independent
    form of SQL's engine-seeded TABLESAMPLE; map-only, zero shuffle."""
    return _samp.tablesample_events(load_table(spark, sf_dir, "events"))


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: distinct + entropy diversity of the sensitive
    attribute inside each published QI cell."""
    return _privacy.l_diversity_audit(load_table(spark, sf_dir, "events"))


def q_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response on the per-user purchaser bit with
    md5-derandomized coins; exact debias identity, 1 row."""
    return _privacy.randomized_response(load_table(spark, sf_dir, "events"))


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit: total variational distance between each QI
    cell's sensitive distribution and the global one (absent-value
    mass included; integer cross-multiplied 0.2 flag)."""
    return _privacy.t_closeness_audit(load_table(spark, sf_dir, "events"))


def q_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning simulation: natural vs date-sorted layouts
    against a quarter predicate (min/max stats, one agg per layout)."""
    return _layout.zonemap_skipping_report(
        load_table(spark, sf_dir, "lineitem")
    )


def q_rle_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLE sort-order compression advisor (distributed run counting:
    partition-windowed changes + partition count, no global sort)."""
    return _layout.rle_layout_report(load_table(spark, sf_dir, "lineitem"))


def q_sql_clustered_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY / SORT BY layout clauses (result-set invariant;
    Exchange+Sort plan-tested)."""
    return _sqlapi.sql_clustered_orders(spark, sf_dir)


def q_sql_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI FILTER-clause aggregates in one hash-agg pass."""
    return _sqlapi.sql_filter_clause_stats(spark, sf_dir)


def q_sql_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE function (CREATE FUNCTION ... RETURNS TABLE) chunker
    invoked via LATERAL — four-way hash agreement with the native
    chunker, the Python UDTF, and the DuckDB oracle."""
    return _sqlapi.sql_table_udtf_chunks(spark, sf_dir)


def q_sql_udf_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE FUNCTION ... RETURN) + GROUP BY ALL /
    ORDER BY ALL — parser/catalog features, plan stays codegen'd."""
    return _sqlapi.sql_udf_discount_tiers(spark, sf_dir)


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS inner-product join-size estimation vs exact truth."""
    return _prof.join_cardinality_estimate(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_dict_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding benefit estimates per candidate column
    (exact integer byte accounting; index bits via length(bin(d-1)),
    no float logs)."""
    return _prof.dict_encoding_advisor(
        {
            t: load_table(spark, sf_dir, t)
            for t in ("part", "orders", "lineitem", "customer",
                      "nation", "events")
        }
    )


def q_ind_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unary inclusion-dependency verification over the FK lattice +
    reverse directions (distinct-collapse both sides, anti-probe;
    holds iff zero unmatched values)."""
    return _prof.ind_discovery(
        {
            t: load_table(spark, sf_dir, t)
            for t in (
                "lineitem", "orders", "part", "customer",
                "supplier", "nation", "region",
            )
        }
    )


def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency verification over candidate column pairs
    (TANE inner loop; one distinct-grain hash-agg per candidate)."""
    return _prof.fd_discovery(
        {
            t: load_table(spark, sf_dir, t)
            for t in ("part", "customer", "orders")
        }
    )


def q_docs_setcover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy set-cover corpus selection over the 3-shingle universe
    (verified marginal-gain/coverage trajectory)."""
    return _samp.setcover_selection(_docs(spark, sf_dir))


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-language uniform sample (hash-order rank
    with a two-phase prefilter so the per-key sort stays bounded)."""
    return _samp.stratified_sample(_docs(spark, sf_dir))


def q_docs_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted Bernoulli sample: keep-probability
    proportional to quality_score, drawn from an md5 hex compare (no
    rand()); map-only over the scoring projection."""
    return _samp.quality_weighted_sample(
        _text.quality_scores(_docs(spark, sf_dir))
    )


def q_docs_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement:
    exactly k docs per language with odds proportional to quality
    (exponential-race keys, deterministic md5 uniforms)."""
    d = _docs(spark, sf_dir)
    return _samp.weighted_sample_aes(d, _text.quality_scores(d))


def q_docs_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (p^alpha resampling,
    deterministic Bernoulli, no-oversampling cap)."""
    return _samp.lang_temperature_sample(_docs(spark, sf_dir))


def q_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (non-null/range/accepted/
    unique) in two passes total; long-format CI report."""
    return _prof.orders_expectations(load_table(spark, sf_dir, "orders"))


def q_lineitem_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter row split: rows violating any quarantine rule,
    tagged with all violated-rule reasons (map-only, pushdown)."""
    return _prof.lineitem_quarantine(load_table(spark, sf_dir, "lineitem"))


def q_docs_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of documents: one aggregation pass emitting
    per-column nulls / distincts / min / max."""
    return _prof.profile_documents(_docs(spark, sf_dir))


def q_fast_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-stats MIN/MAX/COUNT profile via DataSource-V2 parquet
    aggregate pushdown — metadata-only IO."""
    return _prof.fast_stats_profile(spark, sf_dir)


def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap stats (lag window + agg sharing one
    user_id shuffle)."""
    return _tmp.user_interarrival_stats(load_table(spark, sf_dir, "events"))


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped deep join: revenue per nation for one region —
    dim chain broadcast (region filter prunes before the facts join),
    fact-fact shuffle only on o_orderkey."""
    return _rel.regional_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: FULL OUTER join of two deterministic
    orders snapshots, keys classified added/removed/changed/unchanged."""
    return _rel.orders_snapshot_diff(load_table(spark, sf_dir, "orders"))


def q_parts_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D Pareto skyline over parts (min price, max size) via the
    bucketed staircase — oracle replays NOT EXISTS dominance."""
    return _ana.pareto_skyline(load_table(spark, sf_dir, "part"))


def q_text_nb_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row NB scorecard: Brier, ECE, average precision."""
    return _text.nb_scorecard(_docs(spark, sf_dir))


def q_text_nb_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 threshold sweep for the NB classifier."""
    return _text.nb_pr_curve(_docs(spark, sf_dir))


def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs ground-truth labels (per-row
    fractions for sampling-quota risk)."""
    return _text.lang_confusion(_docs(spark, sf_dir))


def q_text_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the verified NB classifier (per-bin
    predicted-vs-observed rates + calibration gap)."""
    return _text.nb_calibration(_docs(spark, sf_dir))


def q_text_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the NB quality classifier's Brier score
    (reliability / resolution / uncertainty + exact residual)."""
    return _text.brier_decomposition(_docs(spark, sf_dir))


def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out vocabulary coverage: vocab from the even-doc half,
    per-lang token/type OOV rates on the odd half."""
    return _text.oov_rate_report(_docs(spark, sf_dir))


def q_text_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve (first-appearance bucketing,
    no running-distinct state)."""
    return _text.heaps_curve(_docs(spark, sf_dir))


def q_text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords: integer PageRank over the word
    co-occurrence graph, top-k."""
    return _text.textrank_keywords(_docs(spark, sf_dir))


def q_text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (signed md5 buckets, no vocabulary
    state) over the first docs."""
    return _text.hashed_features(_docs(spark, sf_dir))


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law OLS fit (slope/intercept/r2) over the top terms."""
    return _text.zipf_fit(_docs(spark, sf_dir))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped full-scan pricing summary (decimal-exact money
    sums, pushed-down shipdate filter, one hash-agg)."""
    return _rel.pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped top-k revenue orders (filtered fact-fact join +
    hash-agg + TakeOrdered)."""
    return _rel.shipping_priority(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_customer_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report (filtered fact-fact join,
    broadcast nation dim, decimal-exact money, TopK)."""
    return _rel.customer_returns(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


def q_parts_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset) between returned and kept lineitem
    part-key multisets — duplicate counts are part of the contract."""
    return _rel.parts_intersect_all(load_table(spark, sf_dir, "lineitem"))


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: purchases split value equally
    across same-user clicks in the preceding hour (bucketed range
    join + per-purchase assist window + per-click rollup)."""
    return _tmp.linear_attribution(load_table(spark, sf_dir, "events"))


def q_events_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level ordered funnel (signup -> click -> purchase by
    first-touch order) in one conditional min-agg pass."""
    return _tmp.user_funnel(load_table(spark, sf_dir, "events"))


def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift report between the stream's two halves (one
    conditional bin x side hash-agg; ln on pre-rounded shares)."""
    return _tmp.psi_drift_report(load_table(spark, sf_dir, "events"))


def q_events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (explode-amplified
    sliding distinct; amplification = window/slide ratio, constant)."""
    return _tmp.rolling_active_users(load_table(spark, sf_dir, "events"))


def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: user-grain agg + three shared-sort quintile
    windows + composed segment code."""
    return _tmp.rfm_segments(load_table(spark, sf_dir, "events"))


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total reporting: nation revenue, per-mille share of
    its region, rank in region (windows over the nation grain)."""
    return _rel.nation_revenue_share(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag (RANGE-frame
    cumulative mass; tie-safe by the SQL standard)."""
    return _rel.weighted_median_price(load_table(spark, sf_dir, "lineitem"))


def q_table_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two table versions (added/removed/changed
    + per-column change counts in one join+agg)."""
    return _rel.table_diff_report(load_table(spark, sf_dir, "orders"))


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning: broadcast bit-set build, all-K-bits
    probe, exact-semi-join false-positive audit in one summary row."""
    return _rel.bloom_join_prune(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def q_orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY CHANGES: latest change per key wins, DELETE status
    removes the key (one key-window pass + row-local filter)."""
    return _rel.cdc_apply_orders(load_table(spark, sf_dir, "orders"))


def q_orders_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance WITH deletes: count/sum
    by delta algebra, MAX by clean-path greatest or dirty-group
    rescan; the oracle recomputes the final state from scratch, so
    the hash match proves the maintenance lossless."""
    return _rel.agg_view_maintain(load_table(spark, sf_dir, "orders"))


def q_parts_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference) between the same multisets —
    surviving multiplicity is count_R - count_N."""
    return _rel.parts_except_all(load_table(spark, sf_dir, "lineitem"))


def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear interpolation of missing time-series values
    (IGNORE NULLS window scans, one Exchange)."""
    return _tmp.interpolate_missing_values(load_table(spark, sf_dir, "events"))


def q_woe_iv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of aisle vs reordered (half-unit
    smoothed shares, per-category WOE + IV contribution + total IV —
    the credit-scoring feature screen)."""
    return _feat.woe_iv_encoding(instacart_tables(spark, sf_dir))


def q_info_gain_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-based feature screening: info gain + split entropy for 5
    categorical features vs reordered, from exact n*ln(n) count
    algebra (one unpivot + one hash-agg)."""
    return _feat.info_gain_ranking(instacart_tables(spark, sf_dir))


def q_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe leave-one-out target encoding of productID
    against the reordered target (hash-agg + broadcast, no window)."""
    return _feat.loo_target_encoding(instacart_tables(spark, sf_dir))


def q_feature_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise feature correlation audit: C(k,2) Pearson corrs in ONE
    aggregation pass over the candidate table, unpivoted to long."""
    return _prof.feature_correlations(
        _cand.candidates_staged(instacart_tables(spark, sf_dir))
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume orders (HAVING-filtered agg runs
    first and broadcast-drives the joins)."""
    return _rel.large_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


#: the salted join is row-identical to the plain join, so the oracle
#: runs the unsalted form.
ORACLE_EVENTS_SALTED_JOIN = """
events_salted_join AS (
  SELECT c.c_mktsegment, e.event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(e.value), 4) AS sum_value
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY 1, 2
)
"""


def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-dim join: events salted on a per-row key, the
    customer dim replicated per salt — row-identical to the plain join
    (which is what the oracle runs), with the hot-key task bounded at
    1/n_salts. Output compacted to per-(segment, type) stats."""
    joined = salted_skew_join(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        big_key="user_id",
        dim_key="c_custkey",
        row_id="event_id",
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_ref_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's FK edges:
    per-relation row/null/orphan counts via distinct-key anti-joins."""
    tables = {
        n: load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "customer", "nation", "events")
    }
    return _prof.ref_integrity_audit(tables)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing via mapInPandas (stub codec —
    rows-only check)."""
    return _mm.media_features_query(_docs(spark, sf_dir))


def q_media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling via mapInPandas (stub codec —
    rows-only check; 1 row -> N_FRAMES rows)."""
    return _mm.media_frame_samples_query(_docs(spark, sf_dir))


def q_media_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize, binary->binary mapInPandas (digest
    surfaced; rows-only)."""
    return _mm.media_resized_query(_docs(spark, sf_dir))


def q_media_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit-PCM windowed RMS/peak features (integer-exact, real
    computation, rows-only)."""
    return _mm.media_audio_windows_query(_docs(spark, sf_dir))


def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ev.tumbling_hourly(load_table(spark, sf_dir, "events"))


def q_events_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h window, 30min hop (batch form of the streaming agg)."""
    return _ev.sliding_hourly(load_table(spark, sf_dir, "events"))


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ev.sessionize(load_table(spark, sf_dir, "events"))


def q_sql_segment_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end, cross-domain: funnel conversion rate per customer
    market segment (events sessionized -> funnel view -> dim join)."""
    return _sqlapi.sql_segment_conversion(spark, sf_dir)


def q_events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session funnel: per (user, session) click/purchase counts and an
    ordered click->purchase conversion flag — sessionization's single
    shuffle plus conditional aggregates."""
    return _ev.session_funnel(load_table(spark, sf_dir, "events"))


def q_events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long->wide: per-user counts, one column per (pinned)
    event type — single hash-agg, schema fixed at plan time."""
    return _tmp.user_type_pivot(load_table(spark, sf_dir, "events"))


def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram per event type (floor-division bins,
    one map-combinable hash-agg)."""
    return _tmp.value_histogram(load_table(spark, sf_dir, "events"))


def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ev.json_props_stats(load_table(spark, sf_dir, "events"))


def q_events_rolling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling window: per event, same-user event count in
    the trailing hour — sliding frame, no self-join."""
    return _tmp.rolling_hour_stats(load_table(spark, sf_dir, "events"))


def q_events_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured via VariantType: parse props once into a
    variant, extract typed fields, GROUP BY a derived field."""
    return _ev.variant_props_rollup(load_table(spark, sf_dir, "events"))


def q_events_user_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation pattern: per-user count+sum via salted two-stage
    aggregation — result provably equals the direct groupBy (the oracle
    runs the direct form)."""
    out = salted_sum_count(
        load_table(spark, sf_dir, "events"),
        key="user_id", row_id="event_id", value="value",
    )
    return out.select(
        "user_id", "n_events", F.round("sum_value", 4).alias("sum_value")
    )


def q_stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling agg executed as a real Structured Streaming query
    (complete mode, memory sink) — result equals the batch form, so the
    same oracle applies."""
    return _ev.run_stream_tumbling(spark, sf_dir)


def q_stream_sliding_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window + 10-min watermark in append mode (rows-only:
    append withholds watermark-open windows by design)."""
    return _ev.run_stream_windowed_watermark(spark, sf_dir)


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window streaming aggregation (rows-only: append
    mode withholds watermark-open sessions by design)."""
    return _ev.run_stream_session_window(spark, sf_dir)


def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _st.run_stream_stateful_counts(spark, sf_dir)


def q_stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch -> dynamic-partition-overwrite parquet: continuous
    ingestion into a day-partitioned table; read-back equals the batch
    events table."""
    return _ev.run_stream_partitioned_sink(spark, sf_dir)


def q_stream_merge_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE into hash-bucketed keyed state (counts add,
    latest-wins struct max); only touched buckets rewrite per batch;
    final state equals the batch per-user aggregate."""
    return _ev.run_stream_merge_state(spark, sf_dir)


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL registers as streaming state (max-merge); estimate equals
    the batch sketch."""
    return _ev.run_stream_hll(spark, sf_dir)


def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS as streaming state: constant depth*width cell table merged
    by cell-wise addition per micro-batch; equals the batch sketch."""
    return _ev.run_stream_cms(spark, sf_dir)


def q_stream_histq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable-histogram quantiles; final estimates equal
    the batch sketch exactly (stream==batch oracle)."""
    return _ev.run_stream_histq(spark, sf_dir)


def q_stream_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A/B monitor: per-variant moment cells as 2-row
    mergeable state; final Welch z equals the batch answer."""
    return _ev.run_stream_ab_monitor(spark, sf_dir)


def q_stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Wald SPRT: 1-row (n, s) mergeable state per
    micro-batch; final LLR/decision equals the batch monitor's last
    day (batch==stream duality for the sequential-testing ladder)."""
    return _ev.run_stream_sprt(spark, sf_dir)


def q_events_partial_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partial correlation clicks<->purchases controlling views:
    three Pearson r's from one 11-integer day-grain moment agg,
    deconfounded in a single mirrored chain."""
    return _tmp.partial_correlation(load_table(spark, sf_dir, "events"))


def q_events_jarque_bera(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jarque-Bera normality test from exact DECIMAL raw power sums
    (the assumption check for the whole parametric family)."""
    return _tmp.jarque_bera_test(load_table(spark, sf_dir, "events"))


def q_events_quartile_skew(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bowley quartile skewness on exact integer-rank quartiles —
    the outlier-immune shape readout beside the moment skewness."""
    return _tmp.quartile_skew(load_table(spark, sf_dir, "events"))


def q_events_ansari_bradley(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ansari-Bradley rank scale test (purchase vs click spread):
    exact integer mid-rank scores, parity-split null moments."""
    return _tmp.ansari_bradley(load_table(spark, sf_dir, "events"))


def q_orders_potwo_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Power-of-two ordering policies priced exactly against the
    Wagner-Whitin optimum (the synchronizable policy class's real
    gap on this demand series)."""
    return _tmp.potwo_policy_eval(load_table(spark, sf_dir, "orders"))


def q_events_record_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Record-value trend test: packed running-max record count vs
    the distribution-free harmonic-number expectation."""
    return _tmp.record_days_test(load_table(spark, sf_dir, "events"))


def q_events_turning_points(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall turning-points randomness test: strict local extrema
    of daily revenue vs the 2(n-2)/3 i.i.d. expectation."""
    return _tmp.turning_points_test(load_table(spark, sf_dir, "events"))


def q_events_mood_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mood's median test across event types: exact grand-median
    order statistic, k x 2 above/below table, chi2 = sum O^2/E - T."""
    return _tmp.mood_median_test(load_table(spark, sf_dir, "events"))


def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness (zero-inclusive variance-to-mean
    of per-doc counts): top-20 clumpiest terms, exact moments."""
    return _text.term_burstiness(load_table(spark, sf_dir, "documents"))


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning G^2 collocations over bigram 2x2 tables: the
    rare-pair-robust collocation test beside raw PMI."""
    return _text.collocations_llr(load_table(spark, sf_dir, "documents"))


def q_text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucket retention report over the unigram-LM doc
    scores: bounded ln(vocab) bucket grain, packed-offset cumulative
    doc/token counts — the KenLM-filter planning table."""
    return _text.ppl_bucket_report(load_table(spark, sf_dir, "documents"))


def q_events_seasonality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FPP3 seasonality/trend strength summary of the verified STL
    decomposition: F_s and F_t with the strong-seasonality flag."""
    return _tmp.seasonality_strength(load_table(spark, sf_dir, "events"))


def q_events_energy_distance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-integer energy distance between purchase and click value
    distributions: all three pair sums via prefix decomposition on
    the cent grain (no quadratic pair join), e-statistic included."""
    return _tmp.energy_distance(load_table(spark, sf_dir, "events"))


def q_stream_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming p-chart: additive day-grain (n, e) state; the final
    chart equals events_pchart bit-for-bit (stream==batch duality)."""
    return _ev.run_stream_pchart(spark, sf_dir)


def q_docs_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stage cluster sample: whole sources drawn by md5 threshold,
    map-side filter fused into the scan."""
    return _samp.cluster_sample(_docs(spark, sf_dir))


def q_events_ks_exponential(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-sample KS of interarrival gaps vs the fitted exponential:
    ECDF via the octave prefix kernel, sup over both jump sides."""
    return _tmp.ks_exponential(load_table(spark, sf_dir, "events"))


def q_stream_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Gumbel extremes monitor: additive hour-grain state
    (one grain finer than the block so partial-hour merges stay
    exact); final fit equals events_gumbel bit-for-bit."""
    return _ev.run_stream_extremes(spark, sf_dir)


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch as streaming state: constant K-row standing table,
    mergeable bottom-k folds per micro-batch; final estimate equals
    the batch sketch (oracle)."""
    return _ev.run_stream_kmv(spark, sf_dir)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once dedup of an at-least-once stream (the event stream
    unioned with a redelivered copy), via watermark-bounded
    dropDuplicates — output equals the batch events table."""
    return _ev.run_stream_dedup(spark, sf_dir)


def q_stream_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest embedding dedup: each micro-batch screened
    against a standing vector index by LSH bucket join + exact cosine
    (stream-static, broadcast per batch; the index table IS the
    state). Hash-equal to the batch computation."""
    return _ev.run_stream_embedding_dedup(spark, sf_dir)


def q_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once dedup when redeliveries carry DIFFERENT event
    times, via dropDuplicatesWithinWatermark (bounded state)."""
    return _ev.run_stream_dedup_within_watermark(spark, sf_dir)


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: each micro-batch of events
    broadcast-joins the static customer dim (stateless — no watermark,
    no state store); bounded-input output equals the batch join."""
    return _ev.run_stream_static_enrich(spark, sf_dir)


def q_stream_hbos_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HBOS anomaly alerts against a static batch-trained
    histogram model (stateless model-apply; alert stream == batch
    filter over a bounded input)."""
    return _ev.run_stream_hbos_alerts(spark, sf_dir)


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases x last-30min clicks),
    watermark-bounded state; inner join over bounded input == the batch
    inequality join, so it is oracle-checked."""
    return _ev.run_stream_interval_join(spark, sf_dir)


def q_stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across restart: windowed agg on half the input,
    stop, new files land, a NEW query resumes from the checkpoint —
    duplicates in the shared file sink would fail the oracle hash."""
    return _ev.run_stream_checkpoint_restart(spark, sf_dir)


def q_stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 State Data Source reader: dump a stopped streaming
    query's state store; surviving rows = the open (unevicted)
    windows, the exact complement of the append-mode output."""
    return _ev.run_stream_state_inspect(spark, sf_dir)


def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: null-extended rows emit
    only on watermark-driven state eviction; the oracle replays the
    final-watermark cutoff on the unmatched side."""
    return _ev.run_stream_interval_join_outer(spark, sf_dir)


def q_ml_train_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2+M7: per-model weighted precision/recall/F1 on the seeded 30%
    holdout (rows-only check — tree models are not SQL-expressible)."""
    return _ml.train_metrics(instacart_tables(spark, sf_dir))


def q_ml_cv_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validated hyperparameter search: one row per grid combo
    with cross-fold mean RMSE and the selected best (rows-only)."""
    return _ml.cv_model_selection(instacart_tables(spark, sf_dir))


def q_docs_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LDA topic model over the documents corpus: top
    terms per topic (rows-only — iterative variational Bayes)."""
    from big_data_instacart_market_basket_analysis_spark.ml import (
        unsupervised as _unsup,
    )

    return _unsup.lda_topics(_docs(spark, sf_dir))


def q_docs_word2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Word2Vec over the corpus: top synonyms of the most
    frequent terms (rows-only — SGD embedding training)."""
    from big_data_instacart_market_basket_analysis_spark.ml import (
        unsupervised as _unsup,
    )

    return _unsup.word2vec_synonyms(_docs(spark, sf_dir))


def q_ml_submission_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ml.model_submission(instacart_tables(spark, sf_dir), "rf")


def q_ml_submission_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ml.model_submission(instacart_tables(spark, sf_dir), "gbt")


def q_ml_submission_dt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ml.model_submission(instacart_tables(spark, sf_dir), "dt")


def q_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped doubly-correlated EXISTS/NOT EXISTS, decorrelated
    into one per-order profile agg + semi join (oracle keeps the
    correlated form — the hash-match proves equivalence)."""
    return _rel.suppliers_waiting(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped max-over-view: revenue agg computed once, 1-row
    global max broadcast back (no scalar-subquery double evaluation)."""
    return _rel.top_supplier_revenue(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD-based outlier stats per event type (exact medians;
    sketch-swappable at scale)."""
    return _tmp.mad_outlier_stats(load_table(spark, sf_dir, "events"))


def q_events_user_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (gaps-and-islands): per-user
    event_type runs to versioned validity intervals, one shuffle."""
    return _tmp.user_state_scd2(load_table(spark, sf_dir, "events"))


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over documents for a fixed query-term set
    (inline tf — no token explode; corpus stats broadcast back)."""
    return _text.bm25_search(_docs(spark, sf_dir))


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: broadcast scalar-avg subquery + anti join
    against distinct buyer keys, per-segment rollup."""
    return _rel.idle_rich_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped conditional-sum ratio over one fact-dim
    broadcast join (decimal-exact money)."""
    return _rel.promo_revenue_share(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-join view maintenance: standing agg + three delta-bounded
    joins, partial-agged before the merge; equals full recompute."""
    return _rel.incremental_join_view(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: bare scan + three pushed predicates + one sum
    (the pushdown showcase; plan-pinned PushedFilters)."""
    return _ana.forecast_revenue_change(load_table(spark, sf_dir, "lineitem"))


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped: correlated scalar-MIN over a region-filtered
    join chain, decorrelated to a per-part pre-agg joined back."""
    return _ana.min_cost_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped: one nation's revenue share of a region's
    market per year; numerator and denominator from ONE hash-agg."""
    return _ana.nation_market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_priority_shipping_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H-Q12-shaped: IN-list + date window on the fact scan, one
    join for the priority, two-branch CASE counts in one hash-agg."""
    return _ana.priority_shipping_buckets(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


def q_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped: EXISTS with a cross-table date predicate,
    planned as a left-semi hash join; window pushed to the orders scan."""
    return _ana.late_order_priorities(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_bloc_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: dual-aliased nation dim joins, bloc filters
    pruning supplier/customer before fact contact."""
    return _ana.bloc_trade_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_nation_part_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: 5-way join, decimal-exact profit per
    (supplier nation, order year)."""
    return _ana.nation_part_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "orders"),
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped: grouped value vs broadcast scalar total with
    a scale-free cross-multiplied threshold (no division, no float)."""
    return _ana.important_parts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H-Q13-shaped: LEFT join with compound condition + double
    aggregation; zero-order customers preserved."""
    return _ana.customer_order_distribution(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: OR-of-ANDs predicate with the part-side
    disjunction explicitly pre-applied to the broadcast build side."""
    return _ana.disjunctive_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_excess_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped: nested IN decomposed to HAVING agg ->
    distinct keys -> left-semi join."""
    return _ana.excess_part_suppliers(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval in one plan: chunk -> deterministic
    embed -> broadcast top-k cosine -> greedy word-budget pack."""
    return _sim.rag_context_pack(
        _docs(spark, sf_dir), _emb(spark, sf_dir)
    )


def q_ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension truncation sweep: recall@k per dims vs the
    full-dim exact truth."""
    return _sim.matryoshka_recall(_emb(spark, sf_dir))


def q_ann_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ranking eval (NDCG@k + MRR) of the IVF and graph-beam
    indexes vs exact cosine truth — position-aware quality on top of
    the recall harnesses."""
    return _sim.retrieval_eval_report(_emb(spark, sf_dir))


def q_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit: mean pairwise cosine of normalized vectors via
    the sum-vector identity (one explode+agg pass, no pair join)."""
    return _sim.embedding_isotropy(_emb(spark, sf_dir))


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between corpus halves: mean-vector
    cosine, L2 shift, worst dimension — the vector companion of the
    scalar PSI/KS drift reports."""
    return _sim.embedding_drift_report(_emb(spark, sf_dir))


def q_embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per IVF cell + overall — the
    clustering-quality score (exact silhouette is all-pairs; the
    centroid variant is the scale-correct standard)."""
    return _sim.cell_silhouette(_emb(spark, sf_dir))


def q_ann_graph_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN (HNSW-style): greedy centroid-layer descent + bounded
    node-layer beam over the staged navigable graph; fixed unrolled
    rounds, one logical plan."""
    return _sim.graph_ann_topk(_emb(spark, sf_dir))


def q_ann_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the graph-ANN beam vs exact brute force."""
    return _sim.graph_ann_recall(_emb(spark, sf_dir))


def q_rag_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: df-capped lexical overlap + exact cosine lists
    merged by reciprocal-rank fusion."""
    return _sim.hybrid_search_rrf(
        _docs(spark, sf_dir), _emb(spark, sf_dir)
    )


def q_embedding_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse retrieval: greedy relevance-vs-redundancy picks,
    unrolled rounds confined to the candidate set."""
    return _sim.mmr_select(_emb(spark, sf_dir))


def q_rag_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage RAG: bi-encoder candidate retrieval + cross-encoder
    pair rerank (md5-dyadic stand-in at the model swap point)."""
    return _sim.rag_rerank(_docs(spark, sf_dir), _emb(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full candidate-expansion feature pipeline at sf0.001."""
    return q_candidates(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ingest_orders": q_ingest_orders,
        "csv_ingest_orders": q_csv_ingest_orders,
        "order_products": q_order_products,
        "prior_products": q_prior_products,
        "product_features": q_product_features,
        "prior_enriched": q_prior_enriched,
        "user_order_features": q_user_order_features,
        "user_prior_features": q_user_prior_features,
        "users_final": q_users_final,
        "user_product_features": q_user_product_features,
        "candidates": q_candidates,
        "feature_lift": q_feature_lift,
        "proxy_submission": q_proxy_submission,
        "pair_substitutes": q_pair_substitutes,
        "ef1_submission": q_ef1_submission,
        "orders_limited": q_orders_limited,
        "eval_split_counts": q_eval_split_counts,
        "dept_aisle_rollup": q_dept_aisle_rollup,
        "products_only_prior": q_products_only_prior,
        "user_segment_stats": q_user_segment_stats,
        "threshold_binarize": q_threshold_binarize,
        "top_products_per_user": q_top_products_per_user,
        "sql_dept_stats": q_sql_dept_stats,
        "sql_dept_top_reordered": q_sql_dept_top_reordered,
        "sql_corpus_lang_stats": q_sql_corpus_lang_stats,
        "geo_customer_rollup": q_geo_customer_rollup,
        "frequent_pairs": q_frequent_pairs,
        "apriori_triples": q_apriori_triples,
        "closed_maximal_pairs": q_closed_maximal_pairs,
        "pair_rules": q_pair_rules,
        "basket_sizes": q_basket_sizes,
        "sequential_pairs": q_sequential_pairs,
        # events + streaming early: these were the never-driver-checked
        # block in round 1 (the driver stopped recording after the three
        # consecutive events read errors); keep them well clear of any
        # per-run budget tail.
        "events_tumbling_hourly": q_events_tumbling_hourly,
        "events_sliding_hourly": q_events_sliding_hourly,
        "events_sessionize": q_events_sessionize,
        "events_json_stats": q_events_json_stats,
        "events_user_stats_salted": q_events_user_stats_salted,
        "json_ingest_events": q_json_ingest_events,
        "events_variant": q_events_variant,
        "text_ingest_docs": q_text_ingest_docs,
        "events_asof_join": q_events_asof_join,
        "events_range_join": q_events_range_join,
        "events_type_quantiles": q_events_type_quantiles,
        "events_user_trend": q_events_user_trend,
        "events_spend_deciles": q_events_spend_deciles,
        "events_cube_stats": q_events_cube_stats,
        "events_approx_distinct": q_events_approx_distinct,
        "events_kmv_sketch": q_events_kmv_sketch,
        "events_kmv_algebra": q_events_kmv_algebra,
        "events_hist_quantiles": q_events_hist_quantiles,
        "events_bootstrap_ci": q_events_bootstrap_ci,
        "events_dbscan": q_events_dbscan,
        "events_density_outliers": q_events_density_outliers,
        "ml_logreg_verified": q_ml_logreg_verified,
        "ml_ols_verified": q_ml_ols_verified,
        "ml_ols_cv": q_ml_ols_cv,
        "ml_conformal_ols": q_ml_conformal_ols,
        "ml_als_verified": q_ml_als_verified,
        "negative_samples": q_negative_samples,
        "ml_als_bpr_auc": q_ml_als_bpr_auc,
        "events_gapfill": q_events_gapfill,
        "events_hll_sketch": q_events_hll_sketch,
        "events_lttb": q_events_lttb,
        "events_markov_predict": q_events_markov_predict,
        "events_type_corr": q_events_type_corr,
        "events_km_survival": q_events_km_survival,
        "events_cox_ph": q_events_cox_ph,
        "events_nelson_aalen": q_events_nelson_aalen,
        "events_qini": q_events_qini,
        "ml_isotonic_verified": q_ml_isotonic,
        "ml_platt_verified": q_ml_platt,
        "events_logrank": q_events_logrank,
        "orders_backlog": q_orders_backlog,
        "price_index": q_price_index,
        "market_hhi": q_market_hhi,
        "parts_abc": q_parts_abc,
        "parts_abc_xyz": q_parts_abc_xyz,
        "events_ipf": q_events_ipf,
        "orders_atkinson": q_orders_atkinson,
        "orders_reorder_policy": q_orders_reorder_policy,
        "events_adstock": q_events_adstock,
        "events_changepoint": q_events_changepoint,
        "events_stratified_ate": q_events_stratified_ate,
        "delta_advisor": q_delta_advisor,
        "events_effect_size": q_events_effect_size,
        "events_hill_tail": q_events_hill_tail,
        "docs_rater_kappa": q_docs_rater_kappa,
        "docs_krippendorff": q_docs_krippendorff,
        "docs_vocab_chao1": q_docs_vocab_chao1,
        "docs_source_overlap": q_docs_source_overlap,
        "events_granger": q_events_granger,
        "graph_rich_club": q_graph_rich_club,
        "ann_knn_classifier": q_ann_knn_classifier,
        "events_top_paths": q_events_top_paths,
        "ann_binary_topk": q_ann_binary_topk,
        "ann_binary_recall": q_ann_binary_recall,
        "events_rmst": q_events_rmst,
        "events_wilcoxon": q_events_wilcoxon,
        "events_mcnemar": q_events_mcnemar,
        "events_runs_test": q_events_runs_test,
        "events_variance_ratio": q_events_variance_ratio,
        "parts_newsvendor": q_parts_newsvendor,
        "parts_eoq": q_parts_eoq,
        "orders_service_level": q_orders_service_level,
        "orders_erlang_blocking": q_orders_erlang_blocking,
        "orders_erlang_wait": q_orders_erlang_wait,
        "events_kendall_tau": q_events_kendall_tau,
        "events_kruskal_wallis": q_events_kruskal_wallis,
        "events_levene": q_events_levene,
        "events_durbin_watson": q_events_durbin_watson,
        "events_grubbs": q_events_grubbs,
        "events_brown_forsythe": q_events_brown_forsythe,
        "events_cliffs_delta": q_events_cliffs_delta,
        "events_cochran_q": q_events_cochran_q,
        "events_page_trend": q_events_page_trend,
        "events_hurst": q_events_hurst,
        "events_weibull": q_events_weibull,
        "events_bartlett": q_events_bartlett,
        "events_rayleigh": q_events_rayleigh,
        "events_vonmises": q_events_vonmises,
        "events_perm_entropy": q_events_perm_entropy,
        "events_bursts": q_events_bursts,
        "events_sample_entropy": q_events_sample_entropy,
        "embedding_mmd": q_embedding_mmd,
        "embedding_intrinsic_dim": q_embedding_intrinsic_dim,
        "embedding_hubness": q_embedding_hubness,
        "events_periodogram": q_events_periodogram,
        "events_hbos_outliers": q_events_hbos_outliers,
        "events_yuen": q_events_yuen,
        "events_cramers_v": q_events_cramers_v,
        "events_tost": q_events_tost,
        "events_mh_odds": q_events_mh_odds,
        "orders_bass_model": q_orders_bass_model,
        "orders_gamma_fit": q_orders_gamma_fit,
        "events_nb_fit": q_events_nb_fit,
        "events_ewma_chart": q_events_ewma_chart,
        "events_mk_seasonal": q_events_mk_seasonal,
        "events_wilson_ci": q_events_wilson_ci,
        "events_lru_hitrate": q_events_lru_hitrate,
        "events_cvm": q_events_cvm,
        "events_anderson_darling": q_events_anderson_darling,
        "join_order_advisor": q_join_order_advisor,
        "events_aqp_revenue": q_events_aqp_revenue,
        "events_welch_anova": q_events_welch_anova,
        "events_friedman": q_events_friedman,
        "events_tukey_hsd": q_events_tukey_hsd,
        "orders_lot_sizing": q_orders_lot_sizing,
        "text_novelty": q_text_novelty,
        "events_gumbel": q_events_gumbel,
        "events_dtw": q_events_dtw,
        "docs_nw_align": q_docs_nw_align,
        "events_cohort_ltv": q_events_cohort_ltv,
        "events_stickiness": q_events_stickiness,
        "events_matrix_profile": q_events_matrix_profile,
        "events_acf": q_events_acf,
        "events_pacf": q_events_pacf,
        "events_ccf": q_events_ccf,
        "events_wht": q_events_wht,
        "events_haar": q_events_haar,
        "events_approx_quantile": q_events_approx_quantile,
        "ml_poisson_verified": q_ml_poisson_verified,
        "events_peaks": q_events_peaks,
        "ann_rocchio": q_ann_rocchio,
        "events_offpolicy": q_events_offpolicy,
        "graph_modularity": q_graph_modularity,
        "events_group_sequential": q_events_group_sequential,
        "dq_constraints": q_dq_constraints,
        "mv_rollup_rewrite": q_mv_rollup_rewrite,
        "events_concurrency": q_events_concurrency,
        "events_stl_decompose": q_events_stl_decompose,
        "events_twap": q_events_twap,
        "udf_grouped_agg": q_udf_grouped_agg,
        "udf_grouped_map": q_udf_grouped_map,
        "events_bitmap_retention": q_events_bitmap_retention,
        "text_decontaminate": q_text_decontaminate,
        "text_decontaminate_semantic": q_text_decontaminate_semantic,
        "dedup_winnowing": q_dedup_winnowing,
        "events_cms_hitters": q_events_cms_hitters,
        "events_approx_quantiles": q_events_approx_quantiles,
        "events_pit_enrich": q_events_pit_enrich,
        "events_wow_growth": q_events_wow_growth,
        "stream_tumbling_hourly": q_stream_tumbling_hourly,
        "stream_sliding_watermark": q_stream_sliding_watermark,
        "stream_session_window": q_stream_session_window,
        "stream_stateful_counts": q_stream_stateful_counts,
        "stream_interval_join": q_stream_interval_join,
        "stream_interval_join_outer": q_stream_interval_join_outer,
        "stream_checkpoint_restart": q_stream_checkpoint_restart,
        "stream_state_inspect": q_stream_state_inspect,
        "stream_dedup": q_stream_dedup,
        "stream_dedup_wwm": q_stream_dedup_within_watermark,
        "stream_static_enrich": q_stream_static_enrich,
        "stream_hbos_alerts": q_stream_hbos_alerts,
        "stream_partitioned_sink": q_stream_partitioned_sink,
        "stream_merge_state": q_stream_merge_state,
        "stream_kmv": q_stream_kmv,
        "stream_ab_monitor": q_stream_ab_monitor,
        "stream_sprt": q_stream_sprt,
        "stream_extremes": q_stream_extremes,
        "stream_pchart": q_stream_pchart,
        "docs_cluster_sample": q_docs_cluster_sample,
        "events_ks_exponential": q_events_ks_exponential,
        "events_energy_distance": q_events_energy_distance,
        "events_seasonality": q_events_seasonality,
        "text_ppl_buckets": q_text_ppl_buckets,
        "text_burstiness": q_text_burstiness,
        "text_collocations": q_text_collocations,
        "events_mood_median": q_events_mood_median,
        "events_record_days": q_events_record_days,
        "events_turning_points": q_events_turning_points,
        "orders_potwo_policy": q_orders_potwo_policy,
        "events_jarque_bera": q_events_jarque_bera,
        "events_quartile_skew": q_events_quartile_skew,
        "events_ansari_bradley": q_events_ansari_bradley,
        "events_partial_corr": q_events_partial_corr,
        "stream_hist_quantiles": q_stream_histq,
        "stream_cms": q_stream_cms,
        "stream_hll": q_stream_hll,
        "stream_embedding_dedup": q_stream_embedding_dedup,
        "dedup_exact": q_dedup_exact,
        "dedup_cdc": q_dedup_cdc,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_ppjoin": q_dedup_ppjoin,
        "dedup_containment": q_dedup_containment,
        "dedup_sorted_neighborhood": q_dedup_sorted_neighborhood,
        "dedup_simhash_eval": q_dedup_simhash_eval,
        "dedup_detector_matrix": q_dedup_detector_matrix,
        "dedup_capture_recapture": q_dedup_capture_recapture,
        "events_entropy_rate": q_events_entropy_rate,
        "text_dup_spans": q_text_dup_spans,
        "embedding_random_projection": q_embedding_random_projection,
        "ann_rp_recall": q_ann_rp_recall,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_lsh_precision": q_dedup_lsh_precision,
        "dedup_minhash_exact_first": q_dedup_minhash_exact_first,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "corpus_prep": q_corpus_prep,
        "docs_training_export": q_docs_training_export,
        "text_unigram_logprob": q_text_unigram_logprob,
        "text_bigram_logprob": q_text_bigram_logprob,
        "text_kneser_ney": q_text_kneser_ney,
        "text_ql_search": q_text_ql_search,
        "docs_source_jsd": q_docs_source_jsd,
        "text_trigram_jm": q_text_trigram_jm,
        "media_phash_dedup": q_media_phash_dedup,
        "media_sniff_dims": q_media_sniff_dims,
        "media_wav_meta": q_media_wav_meta,
        "media_scene_changes": q_media_scene_changes,
        "text_nb_quality": q_text_nb_quality,
        "text_nb_quality_cv": q_text_nb_quality_cv,
        "text_nb_auc": q_text_nb_auc,
        "text_nb_gains": q_text_nb_gains,
        "text_nb_learning_curve": q_text_nb_learning_curve,
        "text_readability": q_text_readability,
        "text_rake_keywords": q_text_rake_keywords,
        "embedding_knn_outliers": q_embedding_knn_outliers,
        "embedding_standardize": q_embedding_standardize,
        "events_pseudonymized": q_events_pseudonymized,
        "events_dp_counts": q_events_dp_counts,
        "ml_cart_verified": q_ml_cart_verified,
        "ml_rf_verified": q_ml_rf_verified,
        "ml_gbm_verified": q_ml_gbm_verified,
        "ml_cart_importance": q_ml_cart_importance,
        "ml_gbm_perm_importance": q_ml_gbm_perm_importance,
        "events_erasure_audit": q_events_erasure_audit,
        "parts_trending": q_parts_trending,
        "events_kanonymity": q_events_kanonymity,
        "events_holt_forecast": q_events_holt_forecast,
        "events_holt_winters": q_events_holt_winters,
        "events_ar2_forecast": q_events_ar2_forecast,
        "events_mta_models": q_events_mta_models,
        "events_revenue_gini": q_events_revenue_gini,
        "events_cuped": q_events_cuped,
        "events_hampel": q_events_hampel,
        "events_multi_test_bh": q_events_multi_test_bh,
        "events_robust_trend": q_events_robust_trend,
        "events_ks_drift": q_events_ks_drift,
        "events_wasserstein": q_events_wasserstein,
        "events_mannwhitney": q_events_mannwhitney,
        "events_chi2": q_events_chi2,
        "events_sprt": q_events_sprt,
        "events_median_ci": q_events_median_ci,
        "events_trend_test": q_events_trend_test,
        "events_overdispersion": q_events_overdispersion,
        "events_spearman": q_events_spearman,
        "events_anova": q_events_anova,
        "events_permutation_test": q_events_permutation_test,
        "orders_theil": q_orders_theil,
        "graph_ppr": q_graph_ppr,
        "events_markov": q_events_markov,
        "events_markov_stationary": q_events_markov_stationary,
        "events_shapley": q_events_shapley,
        "events_did": q_events_did,
        "events_markov_attribution": q_events_markov_attribution,
        "events_quantile_norm": q_events_quantile_norm,
        "events_forecast_backtest": q_events_forecast_backtest,
        "events_power_mde": q_events_power_mde,
        "croston_forecast": q_croston_forecast,
        "price_elasticity": q_price_elasticity,
        "ml_ridge_verified": q_ml_ridge_verified,
        "events_conversion_ztest": q_events_conversion_ztest,
        "events_neyman": q_events_neyman,
        "parts_pps_sample": q_parts_pps_sample,
        "graph_rec_coverage": q_graph_rec_coverage,
        "events_cusum": q_events_cusum,
        "events_bot_flags": q_events_bot_flags,
        "events_gini": q_events_gini,
        "events_benford": q_events_benford,
        "dedup_minhash_eval": q_dedup_minhash_eval,
        "text_dsir_importance": q_text_dsir_importance,
        "corpus_prep_semantic": q_corpus_prep_semantic,
        "text_gopher_rules": q_text_gopher_rules,
        "text_char_entropy": q_text_char_entropy,
        "text_ccnet_buckets": q_text_ccnet_buckets,
        "ann_brute_force": q_ann_brute_force,
        "embedding_hard_negatives": q_embedding_hard_negatives,
        "ann_brute_force_scored": q_ann_brute_force_scored,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_recall": q_ann_ivf_recall,
        "ann_ivf_probe_sweep": q_ann_ivf_probe_sweep,
        "ann_quantized": q_ann_quantized,
        "events_zorder": q_events_zorder,
        "events_hilbert": q_events_hilbert,
        "events_curve_locality": q_events_curve_locality,
        "docs_consistent_shards": q_docs_consistent_shards,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_kmeans": q_embedding_kmeans,
        "embedding_kmeans_lloyd": q_embedding_kmeans_lloyd,
        "embedding_pca": q_embedding_pca,
        "ann_pq": q_ann_pq,
        "ann_pq_recall": q_ann_pq_recall,
        "embedding_diverse_sample": q_embedding_diverse_sample,
        "embedding_semdedup": q_embedding_semdedup,
        "text_token_counts": q_text_token_counts,
        "text_hashing_collisions": q_text_hashing_collisions,
        "text_quality": q_text_quality,
        "text_lang_id": q_text_lang_id,
        "text_fingerprints": q_text_fingerprints,
        "text_top_terms": q_text_top_terms,
        "text_redact_pii": q_text_redact_pii,
        "text_repetition": q_text_repetition,
        "docs_chunks": q_docs_chunks,
        "docs_chunks_udtf": q_docs_chunks_udtf,
        "docs_source_mix": q_docs_source_mix,
        "docs_quality_topfrac": q_docs_quality_topfrac,
        "text_skipgram_pmi": q_text_skipgram_pmi,
        "events_retention": q_events_retention,
        "events_incremental_rollup": q_events_incremental_rollup,
        "events_ohlc": q_events_ohlc,
        "events_session_paths": q_events_session_paths,
        "docs_grouping_sets": q_docs_grouping_sets,
        "events_winsorized": q_events_winsorized,
        "orders_merge_upsert": q_orders_merge_upsert,
        "sql_daily_gapfill": q_sql_daily_gapfill,
        "sql_urgent_only": q_sql_urgent_only,
        "sql_setops": q_sql_setops,
        "sql_named_window": q_sql_named_window,
        "sql_nullsafe": q_sql_nullsafe,
        "sql_scripting": q_sql_scripting,
        "sql_part_supplier_stats": q_sql_part_supplier_stats,
        "sql_small_qty_revenue": q_sql_small_qty_revenue,
        "sql_pipe_priority_stats": q_sql_pipe_priority_stats,
        "sql_lateral_top_orders": q_sql_lateral_top_orders,
        "sql_customer_chain": q_sql_customer_chain,
        "sql_var_param_revenue": q_sql_var_param_revenue,
        "sql_dynamic_identifier": q_sql_dynamic_identifier,
        "sql_pivot_returnflag": q_sql_pivot_returnflag,
        "plan_lint_report": q_plan_lint_report,
        "text_bpe_pairs": q_text_bpe_pairs,
        "text_rouge": q_text_rouge,
        "text_bleu": q_text_bleu,
        "text_lexical_diversity": q_text_lexical_diversity,
        "events_pchart": q_events_pchart,
        "text_bpe_train": q_text_bpe_train,
        "text_bpe_fertility": q_text_bpe_fertility,
        "text_unigram_lm": q_text_unigram_lm,
        "text_unigram_fertility": q_text_unigram_fertility,
        "events_skew_report": q_events_skew_report,
        "xml_ingest_events": q_xml_ingest_events,
        "orc_ingest_events": q_orc_ingest_events,
        "events_ewma": q_events_ewma,
        "events_value_bins": q_events_value_bins,
        "events_anomalies": q_events_anomalies,
        "events_type_unpivot": q_events_type_unpivot,
        "dedup_fuzzy_prefix": q_dedup_fuzzy_prefix,
        "docs_er_matches": q_docs_er_matches,
        "docs_fellegi_sunter": q_docs_fellegi_sunter,
        "docs_phonetic_er": q_docs_phonetic_er,
        "parts_jaro_winkler": q_parts_jaro_winkler,
        "docs_template_dedup": q_docs_template_dedup,
        "text_phrase_search": q_text_phrase_search,
        "events_ab_test": q_events_ab_test,
        "events_sketch_rollup": q_events_sketch_rollup,
        "dedup_incremental": q_dedup_incremental,
        "dedup_hybrid": q_dedup_hybrid,
        "docs_segment_dedup": q_docs_segment_dedup,
        "docs_pack_payloads": q_docs_pack_payloads,
        "dedup_cluster_reps": q_dedup_cluster_reps,
        "dedup_retention": q_dedup_retention,
        "pagerank_products": q_pagerank_products,
        "graph_triangles": q_graph_triangles,
        "graph_clustering_coef": q_graph_clustering_coef,
        "graph_degree_stats": q_graph_degree_stats,
        "graph_kcore": q_graph_kcore,
        "graph_ktruss": q_graph_ktruss,
        "graph_link_prediction": q_graph_link_prediction,
        "graph_adamic_adar": q_graph_adamic_adar,
        "graph_assortativity": q_graph_assortativity,
        "nation_rca": q_nation_rca,
        "docs_systematic_sample": q_docs_systematic_sample,
        "graph_bfs": q_graph_bfs,
        "graph_sssp": q_graph_sssp,
        "graph_betweenness": q_graph_betweenness,
        "graph_closeness": q_graph_closeness,
        "graph_betweenness_stability": q_graph_betweenness_stability,
        "graph_hits": q_graph_hits,
        "graph_diameter_est": q_graph_diameter,
        "graph_lpa": q_graph_lpa,
        "graph_item_similarity": q_graph_item_similarity,
        "graph_item_sim_hitrate": q_graph_item_sim_hitrate,
        "pysource_docs": q_pysource_docs,
        "pysink_docs": q_pysink_docs,
        "dedup_decontaminate": q_dedup_decontaminate,
        "text_tfidf_top_terms": q_text_tfidf_top_terms,
        "docs_pack_batches": q_docs_pack_batches,
        "docs_pack_sweep": q_docs_pack_sweep,
        "docs_split_by_hash": q_docs_split_by_hash,
        "events_tablesample": q_events_tablesample,
        "docs_global_shuffle": q_docs_global_shuffle,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_setcover": q_docs_setcover,
        "fd_discovery": q_fd_discovery,
        "ind_discovery": q_ind_discovery,
        "dict_advisor": q_dict_advisor,
        "join_cardinality_estimate": q_join_cardinality,
        "sql_udf_tiers": q_sql_udf_tiers,
        "sql_udtf_chunks": q_sql_udtf_chunks,
        "sql_clustered_orders": q_sql_clustered_orders,
        "sql_filter_clause_stats": q_sql_filter_clause,
        "rle_layout_report": q_rle_layout,
        "zonemap_skipping_report": q_zonemap_skipping,
        "events_l_diversity": q_l_diversity,
        "events_t_closeness": q_t_closeness,
        "privacy_randomized_response": q_randomized_response,
        "docs_quality_sample": q_docs_quality_sample,
        "docs_weighted_sample_aes": q_docs_weighted_sample_aes,
        "docs_lang_temperature": q_docs_lang_temperature,
        "fast_stats_profile": q_fast_stats_profile,
        "docs_profile": q_docs_profile,
        "events_interarrival": q_events_interarrival,
        "events_salted_join": q_events_salted_join,
        "ref_integrity_audit": q_ref_integrity_audit,
        "orders_expectations": q_orders_expectations,
        "lineitem_quarantine": q_lineitem_quarantine,
        "pricing_summary": q_pricing_summary,
        "parts_pareto_skyline": q_parts_pareto_skyline,
        "text_zipf_fit": q_text_zipf_fit,
        "text_hashed_features": q_text_hashed_features,
        "text_textrank": q_text_textrank,
        "text_heaps_curve": q_text_heaps_curve,
        "text_oov_rate": q_text_oov_rate,
        "text_nb_calibration": q_text_nb_calibration,
        "text_brier": q_text_brier,
        "text_lang_confusion": q_text_lang_confusion,
        "text_nb_pr_curve": q_text_nb_pr_curve,
        "text_nb_scorecard": q_text_nb_scorecard,
        "shipping_priority": q_shipping_priority,
        "customer_returns": q_customer_returns,
        "large_orders": q_large_orders,
        "parts_intersect_all": q_parts_intersect_all,
        "parts_except_all": q_parts_except_all,
        "orders_cdc_apply": q_orders_cdc_apply,
        "orders_ivm_retract": q_orders_ivm_retract,
        "events_rolling_dau": q_events_rolling_dau,
        "events_user_funnel": q_events_user_funnel,
        "events_attribution": q_events_attribution,
        "events_psi_drift": q_events_psi_drift,
        "events_rfm_segments": q_events_rfm_segments,
        "nation_revenue_share": q_nation_revenue_share,
        "bloom_join_prune": q_bloom_join_prune,
        "table_diff_report": q_table_diff_report,
        "lineitem_weighted_median": q_weighted_median,
        "events_interpolate": q_events_interpolate,
        "loo_target_encoding": q_loo_target_encoding,
        "woe_iv_encoding": q_woe_iv_encoding,
        "info_gain_ranking": q_info_gain_ranking,
        "feature_correlations": q_feature_correlations,
        "orders_snapshot_diff": q_orders_snapshot_diff,
        "regional_revenue": q_regional_revenue,
        "events_session_funnel": q_events_session_funnel,
        "sql_segment_conversion": q_sql_segment_conversion,
        "events_type_pivot": q_events_type_pivot,
        "events_value_histogram": q_events_value_histogram,
        "events_variant_rollup": q_events_variant_rollup,
        "events_rolling_hour": q_events_rolling_hour,
        "events_user_scd2": q_events_user_scd2,
        "events_mad_outliers": q_events_mad_outliers,
        "suppliers_waiting": q_suppliers_waiting,
        "top_supplier_revenue": q_top_supplier_revenue,
        "text_bm25": q_text_bm25,
        "rag_context_pack": q_rag_context_pack,
        "rag_rerank": q_rag_rerank,
        "embedding_mmr": q_embedding_mmr,
        "rag_hybrid_rrf": q_rag_hybrid_rrf,
        "ann_matryoshka_recall": q_ann_matryoshka_recall,
        "ann_graph_beam": q_ann_graph_beam,
        "ann_graph_recall": q_ann_graph_recall,
        "embedding_silhouette": q_embedding_silhouette,
        "embedding_drift": q_embedding_drift,
        "embedding_isotropy": q_embedding_isotropy,
        "ann_retrieval_eval": q_ann_retrieval_eval,
        "idle_rich_customers": q_idle_rich_customers,
        "incremental_join_view": q_incremental_join_view,
        "late_order_priorities": q_late_order_priorities,
        "forecast_revenue_change": q_forecast_revenue_change,
        "min_cost_supplier": q_min_cost_supplier,
        "nation_market_share": q_nation_market_share,
        "priority_shipping_buckets": q_priority_shipping_buckets,
        "bloc_trade_volume": q_bloc_trade_volume,
        "nation_part_profit": q_nation_part_profit,
        "important_parts": q_important_parts,
        "customer_order_distribution": q_customer_order_distribution,
        "disjunctive_revenue": q_disjunctive_revenue,
        "excess_part_suppliers": q_excess_part_suppliers,
        "promo_revenue_share": q_promo_revenue_share,
        # slow rows-only queries last (ML trains models; media runs the
        # stub codec): if a driver budget truncates the run, hash-checked
        # rows are already on the board.
        "fpgrowth_itemsets": q_fpgrowth_itemsets,
        "prefixspan_patterns": q_prefixspan_patterns,
        "fpgrowth_rules": q_fpgrowth_rules,
        "ml_train_metrics": q_ml_train_metrics,
        "ml_cv_selection": q_ml_cv_selection,
        "docs_lda_topics": q_docs_lda_topics,
        "docs_word2vec": q_docs_word2vec,
        "ml_submission_rf": q_ml_submission_rf,
        "ml_submission_gbt": q_ml_submission_gbt,
        "ml_submission_dt": q_ml_submission_dt,
        "media_features": q_media_features,
        "media_frame_samples": q_media_frame_samples,
        "media_resized": q_media_resized,
        "media_audio_windows": q_media_audio_windows,
    }


def oracle_sql() -> dict[str, str]:
    base_only = f"WITH {ORACLE_BASE_CTES.strip()}\n"
    return {
        "ingest_orders": base_only + "SELECT * FROM iorders",
        "csv_ingest_orders": base_only + "SELECT * FROM iorders",
        "order_products": base_only + "SELECT * FROM iorder_products",
        "prior_products": base_only + "SELECT * FROM iprior_products",
        "product_features": _oracle("product_features"),
        "prior_enriched": _oracle("prior_enriched"),
        "user_order_features": _oracle("user_order_features"),
        "user_prior_features": _oracle(
            "user_prior_features",
            "SELECT userID, items_purchased_total, "
            "array_to_string(all_items, ' ') AS all_items, distinct_items "
            "FROM user_prior_features",
        ),
        "users_final": _oracle(
            "users_final",
            "SELECT userID, items_purchased_total, "
            "array_to_string(all_items, ' ') AS all_items, distinct_items, "
            "avg_orderingGap, total_orders, average_items FROM users_final",
        ),
        "user_product_features": _oracle("user_product_features"),
        "candidates": _oracle("candidates"),
        "feature_lift": _oracle("feature_lift"),
        "proxy_submission": _oracle("proxy_submission"),
        "pair_substitutes": _oracle("pair_substitutes"),
        "ef1_submission": _oracle("ef1_submission"),
        "orders_limited": _oracle("orders_limited"),
        "eval_split_counts": _oracle("eval_split_counts"),
        "dept_aisle_rollup": _oracle("dept_aisle_rollup"),
        "products_only_prior": _oracle("products_only_prior"),
        "user_segment_stats": _oracle("user_segment_stats"),
        "threshold_binarize": _oracle("threshold_binarize"),
        "top_products_per_user": _oracle("top_products_per_user"),
        "frequent_pairs": _oracle("frequent_pairs"),
        "apriori_triples": _oracle("apriori_triples"),
        "closed_maximal_pairs": _oracle("closed_maximal_pairs"),
        "ml_als_verified": _oracle("als_rank1"),
        "negative_samples": _oracle("negative_samples"),
        "ml_als_bpr_auc": _oracle("als_bpr_auc"),
        "pair_rules": _oracle("pair_rules"),
        "basket_sizes": _oracle("basket_sizes"),
        "sequential_pairs": _oracle("sequential_pairs"),
        "sql_dept_stats": _oracle("sql_dept_stats"),
        "sql_dept_top_reordered": _oracle("sql_dept_top_reordered"),
        "dedup_exact": _ext_oracle(
            [_dedup.ORACLE_EXACT_DEDUP], "exact_dedup"
        ),
        "dedup_ppjoin": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_PPJOIN],
            "ppjoin_pairs",
        ),
        "dedup_ngram_jaccard": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD],
            "ngram_jaccard",
        ),
        "dedup_containment": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONTAINMENT],
            "containment_pairs",
        ),
        "dedup_sorted_neighborhood": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_SORTED_NEIGHBORHOOD],
            "sorted_neighborhood",
        ),
        "dedup_simhash_eval": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup._oracle_simhash(), _dedup.ORACLE_SIMHASH_RECALL],
            "simhash_recall_eval",
        ),
        "dedup_detector_matrix": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONTAINMENT, _dedup.ORACLE_MINHASH_LSH,
             _dedup._oracle_simhash(),
             _dedup.ORACLE_SORTED_NEIGHBORHOOD,
             _dedup.ORACLE_DETECTOR_MATRIX],
            "detector_matrix",
        ),
        "dedup_capture_recapture": _ext_oracle(
            [
                _dedup.ORACLE_SHINGLES,
                "dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles"
                " GROUP BY doc_id)",
                _dedup.ORACLE_MINHASH_LSH,
                _dedup._oracle_simhash(),
                _dedup.ORACLE_CAPTURE_RECAPTURE,
            ],
            "capture_recapture_estimate",
        ),
        "events_entropy_rate": _ext_oracle(
            [_tmp.ORACLE_MARKOV_ENTROPY], "markov_entropy_rate"
        ),
        "text_dup_spans": _ext_oracle(
            [_text.ORACLE_DUP_SPANS], "duplicate_spans"
        ),
        "embedding_random_projection": _ext_oracle(
            [_sim.oracle_random_projection()], "random_projection"
        ),
        "ann_rp_recall": _ext_oracle(
            [_sim.oracle_random_projection(),
             _sim.ORACLE_BRUTE_FORCE_TOPK,
             _sim.ORACLE_RP_RECALL],
            "rp_ann_recall",
        ),
        "dedup_minhash_eval": _ext_oracle(
            [_dedup.ORACLE_SHINGLES,
             _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_MINHASH_LSH,
             _dedup.ORACLE_MINHASH_RECALL_EVAL],
            "minhash_recall_eval",
        ),
        "dedup_lsh_precision": _ext_oracle(
            [_dedup.ORACLE_SHINGLES,
             "dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles GROUP BY doc_id)",
             _dedup.ORACLE_MINHASH_LSH,
             _dedup.ORACLE_LSH_PRECISION],
            "lsh_precision_eval",
        ),
        "dedup_minhash_lsh": _ext_oracle(
            [_dedup.ORACLE_SHINGLES,
             "dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles GROUP BY doc_id)",
             _dedup.ORACLE_MINHASH_LSH],
            "minhash_lsh",
        ),
        "dedup_minhash_exact_first": _ext_oracle(
            [_dedup.ORACLE_MINHASH_EXACT_FIRST],
            "minhash_exact_first",
        ),
        "dedup_clusters": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS],
            "connected_clusters",
            recursive=True,
        ),
        "corpus_prep": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS,
             _text.oracle_quality_scores(), _text.ORACLE_TOKEN_COUNTS,
             _text.ORACLE_CORPUS_PREP],
            "corpus_prep",
            recursive=True,
        ),
        "text_unigram_logprob": _ext_oracle(
            [_text.ORACLE_UNIGRAM_LOGPROB], "unigram_logprob"
        ),
        "text_bigram_logprob": _ext_oracle(
            [_text.ORACLE_BIGRAM_LOGPROB], "bigram_logprob"
        ),
        "text_kneser_ney": _ext_oracle(
            [_text.ORACLE_KNESER_NEY], "text_kneser_ney"
        ),
        "text_ql_search": _ext_oracle(
            [_text.oracle_ql_search()], "ql_search"
        ),
        "docs_source_jsd": _ext_oracle(
            [_text.ORACLE_SOURCE_JSD], "docs_source_jsd"
        ),
        "text_trigram_jm": _ext_oracle(
            [_text.ORACLE_TRIGRAM_JM], "text_trigram_jm"
        ),
        "text_dsir_importance": _ext_oracle(
            [_text.ORACLE_DSIR_IMPORTANCE], "dsir_importance"
        ),
        "text_gopher_rules": _ext_oracle(
            [_text.oracle_gopher_rules()], "gopher_rules"
        ),
        "text_nb_quality": _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_QUALITY],
            "nb_quality",
        ),
        "text_nb_calibration": _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_NB_QUALITY,
                _text.ORACLE_NB_CALIBRATION,
            ],
            "nb_calibration",
        ),
        "text_nb_pr_curve": _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_NB_QUALITY,
                _text.ORACLE_NB_PR_CURVE,
            ],
            "nb_pr_curve",
        ),
        "text_brier": _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_NB_QUALITY,
                _text.ORACLE_BRIER,
            ],
            "text_brier_decomposition",
        ),
        "text_nb_scorecard": _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_NB_QUALITY,
                _text.ORACLE_NB_CALIBRATION,
                _text.ORACLE_NB_PR_CURVE,
                _text.ORACLE_NB_SCORECARD,
            ],
            "nb_scorecard",
        ),
        "text_nb_quality_cv": _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_CV],
            "nb_quality_cv",
        ),
        "text_nb_auc": _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_QUALITY,
             _text.ORACLE_NB_AUC],
            "nb_quality_auc",
        ),
        "text_nb_gains": _ext_oracle(
            [_text.oracle_gopher_rules(), _text.ORACLE_NB_QUALITY,
             _text.ORACLE_NB_GAINS],
            "nb_gains_table",
        ),
        "text_nb_learning_curve": _ext_oracle(
            [_text.oracle_gopher_rules(),
             _text.ORACLE_NB_LEARNING_CURVE],
            "nb_learning_curve",
        ),
        "text_readability": _ext_oracle(
            [_text.ORACLE_READABILITY], "readability"
        ),
        "text_rake_keywords": _ext_oracle(
            [_text.oracle_rake_keywords()], "rake_keywords"
        ),
        "embedding_knn_outliers": _ext_oracle(
            [_sim.oracle_knn_outliers()], "embedding_knn_outliers"
        ),
        "embedding_standardize": _ext_oracle(
            [_sim.ORACLE_STANDARDIZE], "standardize_embeddings"
        ),
        "events_pseudonymized": _ext_oracle(
            [_privacy.ORACLE_PSEUDONYMIZE], "pseudonymize_events"
        ),
        "events_dp_counts": _ext_oracle(
            [_privacy.oracle_dp_noisy_counts()], "dp_noisy_counts"
        ),
        "ml_cart_verified": _ext_oracle(
            [_trees.ORACLE_CART], "cart_train"
        ),
        "ml_rf_verified": _ext_oracle(
            [_trees.oracle_rf_train()], "rf_train"
        ),
        "ml_gbm_verified": _ext_oracle(
            [_trees.ORACLE_GBM], "gbm_train"
        ),
        "ml_cart_importance": _ext_oracle(
            [_trees.ORACLE_CART, _trees.ORACLE_CART_IMPORTANCE],
            "cart_feature_importance",
        ),
        "ml_gbm_perm_importance": _ext_oracle(
            [_trees.ORACLE_GBM, _trees.oracle_gbm_permutation()],
            "gbm_permutation_importance",
        ),
        "events_erasure_audit": _ext_oracle(
            [_privacy.ORACLE_ERASURE_AUDIT], "erasure_audit"
        ),
        "parts_trending": _ext_oracle(
            [_ana.ORACLE_TRENDING], "trending_parts"
        ),
        "events_holt_forecast": _ext_oracle(
            [_tmp.ORACLE_USER_HOLT], "user_holt_forecast",
            recursive=True,
        ),
        "events_holt_winters": _ext_oracle(
            [_tmp.ORACLE_USER_HOLT_WINTERS], "user_holt_winters",
            recursive=True,
        ),
        "events_ar2_forecast": _ext_oracle(
            [_tmp.oracle_ar2_forecast()], "ar2_forecast"
        ),
        "events_mta_models": _ext_oracle(
            [_tmp.ORACLE_ATTRIBUTION], "attribution_report"
        ),
        "events_revenue_gini": _ext_oracle(
            [_tmp.ORACLE_REVENUE_CONCENTRATION], "revenue_concentration"
        ),
        "events_cuped": _ext_oracle(
            [_tmp.ORACLE_CUPED], "cuped_report"
        ),
        "events_hampel": _ext_oracle(
            [_tmp.ORACLE_HAMPEL], "hampel_outliers"
        ),
        "events_multi_test_bh": _ext_oracle(
            [_tmp.oracle_multi_test_bh()], "multi_test_bh"
        ),
        "events_robust_trend": _ext_oracle(
            [_tmp.ORACLE_ROBUST_TREND], "robust_trend"
        ),
        "events_ks_drift": _ext_oracle(
            [_tmp.ORACLE_KS_DRIFT], "ks_drift_test"
        ),
        "events_wasserstein": _ext_oracle(
            [_tmp.ORACLE_WASSERSTEIN], "wasserstein_drift"
        ),
        "events_mannwhitney": _ext_oracle(
            [_tmp.ORACLE_MANNWHITNEY], "mannwhitney_test"
        ),
        "events_chi2": _ext_oracle(
            [_tmp.oracle_chi2_independence()], "chi2_independence"
        ),
        "events_sprt": _ext_oracle(
            [_tmp.ORACLE_SPRT], "sprt_monitor"
        ),
        "events_median_ci": _ext_oracle(
            [_tmp.ORACLE_MEDIAN_CI], "median_ci"
        ),
        "events_trend_test": _ext_oracle(
            [_tmp.ORACLE_TREND_TEST], "trend_test"
        ),
        "events_overdispersion": _ext_oracle(
            [_tmp.ORACLE_OVERDISPERSION], "overdispersion_test"
        ),
        "events_spearman": _ext_oracle(
            [_tmp.ORACLE_SPEARMAN], "spearman_corr"
        ),
        "events_anova": _ext_oracle([_tmp.ORACLE_ANOVA], "anova_f_test"),
        "events_permutation_test": _ext_oracle(
            [_tmp.ORACLE_PERMTEST], "permutation_test"
        ),
        "orders_theil": _ext_oracle(
            [_tmp.ORACLE_THEIL], "theil_decomposition"
        ),
        "graph_ppr": _ext_oracle(
            [_graph.oracle_ppr()], "personalized_pagerank"
        ),
        "events_markov": _ext_oracle(
            [_tmp.ORACLE_MARKOV], "markov_transitions"
        ),
        "events_markov_stationary": _ext_oracle(
            [_tmp.oracle_markov_stationary()], "markov_stationary"
        ),
        "events_did": _ext_oracle([_tmp.ORACLE_DID], "did_report"),
        "events_markov_attribution": _ext_oracle(
            [_tmp.oracle_markov_removal()], "markov_removal_attribution"
        ),
        "events_quantile_norm": _ext_oracle(
            [_tmp.ORACLE_QUANTILE_NORM], "quantile_normalize"
        ),
        "events_forecast_backtest": _ext_oracle(
            [_tmp.ORACLE_FORECAST_BACKTEST], "forecast_backtest"
        ),
        "croston_forecast": _ext_oracle(
            [_tmp.ORACLE_CROSTON], "croston_forecast"
        ),
        "ml_ridge_verified": _ext_oracle(
            [_glm.oracle_ridge()], "ridge_train"
        ),
        "events_conversion_ztest": _ext_oracle(
            [_tmp.ORACLE_CONVERSION_ZTEST], "conversion_ztest"
        ),
        "price_elasticity": _ext_oracle(
            [_tmp.ORACLE_ELASTICITY], "price_elasticity"
        ),
        "events_power_mde": _ext_oracle(
            [_tmp.ORACLE_AB_POWER], "ab_power_mde"
        ),
        "events_neyman": _ext_oracle(
            [_samp.ORACLE_NEYMAN], "neyman_allocation"
        ),
        "parts_pps_sample": _ext_oracle(
            [_samp.oracle_pps_systematic()], "pps_systematic_sample"
        ),
        "graph_rec_coverage": _ext_oracle(
            [_graph.oracle_rec_coverage_diversity()],
            "rec_coverage_diversity",
        ),
        "events_shapley": _ext_oracle(
            [_tmp.ORACLE_SHAPLEY], "shapley_attribution"
        ),
        "events_cusum": _ext_oracle(
            [_tmp.ORACLE_CUSUM], "cusum_changepoints", recursive=True
        ),
        "events_bot_flags": _ext_oracle(
            [_tmp.ORACLE_BOT_FLAGS], "bot_flags"
        ),
        "events_gini": _ext_oracle(
            [_tmp.ORACLE_SPEND_GINI], "spend_gini"
        ),
        "events_benford": _ext_oracle(
            [_tmp.oracle_benford_audit()], "benford_audit"
        ),
        "events_kanonymity": _ext_oracle(
            [_privacy.ORACLE_K_ANONYMITY], "k_anonymity_audit"
        ),
        "text_char_entropy": _ext_oracle(
            [_text.ORACLE_CHAR_ENTROPY], "char_entropy_scores"
        ),
        "text_ccnet_buckets": _ext_oracle(
            [_text.ORACLE_UNIGRAM_LOGPROB, _text.ORACLE_CCNET_BUCKETS],
            "ccnet_buckets",
        ),
        "corpus_prep_semantic": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS,
             _text.oracle_quality_scores(), _text.ORACLE_TOKEN_COUNTS,
             _text.ORACLE_CORPUS_PREP, _sim.oracle_semdedup(),
             _text.ORACLE_CORPUS_PREP_SEMANTIC],
            "corpus_prep_semantic",
            recursive=True,
        ),
        "docs_training_export": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS,
             _text.oracle_quality_scores(), _text.ORACLE_TOKEN_COUNTS,
             _text.ORACLE_CORPUS_PREP, _text.oracle_training_export()],
            "training_export",
            recursive=True,
        ),
        "sql_corpus_lang_stats": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_NGRAM_JACCARD,
             _dedup.ORACLE_CONNECTED_CLUSTERS,
             _text.oracle_quality_scores(), _text.ORACLE_TOKEN_COUNTS,
             _text.ORACLE_CORPUS_PREP,
             _sqlapi.ORACLE_SQL_CORPUS_LANG_STATS],
            "sql_corpus_lang_stats",
            recursive=True,
        ),
        "ann_brute_force": _ext_oracle(
            [_sim.ORACLE_BRUTE_FORCE_TOPK], "brute_force_topk"
        ),
        "ann_brute_force_scored": _ext_oracle(
            [_sim.ORACLE_BRUTE_FORCE_SCORED], "brute_force_scored"
        ),
        "embedding_hard_negatives": _ext_oracle(
            [_sim.ORACLE_HARD_NEGATIVES], "hard_negatives"
        ),
        "ann_lsh": _ext_oracle([_sim.oracle_lsh_ann_topk()], "lsh_ann_topk"),
        "ann_ivf": _ext_oracle([_sim.oracle_ivf_ann_topk()], "ivf_ann_topk"),
        "ann_ivf_recall": _ext_oracle(
            [
                _sim.ORACLE_BRUTE_FORCE_TOPK,
                _sim.oracle_ivf_ann_topk(),
                _sim.ORACLE_ANN_RECALL,
            ],
            "ann_recall",
        ),
        "ann_ivf_probe_sweep": _ext_oracle(
            [
                _sim.ORACLE_BRUTE_FORCE_TOPK,
                _sim.oracle_ivf_probe_sweep(),
            ],
            "ann_ivf_probe_sweep",
        ),
        "ann_quantized": _ext_oracle(
            [_sim.ORACLE_QUANTIZED_TOPK], "quantized_topk"
        ),
        "events_zorder": _ext_oracle(
            [_layout.ORACLE_ZORDER_KEYS], "zorder_keys"
        ),
        "events_hilbert": _ext_oracle(
            [_layout.oracle_hilbert_keys()], "hilbert_keys"
        ),
        "events_curve_locality": _ext_oracle(
            [_layout.oracle_curve_locality()], "curve_locality_report"
        ),
        "docs_consistent_shards": _ext_oracle(
            [_layout.ORACLE_CONSISTENT_SHARDS], "consistent_shards"
        ),
        "embedding_near_dup": _ext_oracle(
            [_sim.oracle_embedding_near_dup()], "embedding_near_dup"
        ),
        "embedding_pca": _ext_oracle(
            [_sim.oracle_pca_power()], "pca_power_iteration"
        ),
        "embedding_kmeans_lloyd": _ext_oracle(
            [_sim.oracle_kmeans_lloyd()], "kmeans_lloyd", recursive=True
        ),
        "ann_pq": _ext_oracle(
            [_sim.oracle_pq_ann_topk()], "pq_ann_topk", recursive=True
        ),
        "ann_pq_recall": _ext_oracle(
            [
                _sim.ORACLE_BRUTE_FORCE_TOPK,
                _sim.oracle_pq_ann_topk(),
                _sim.ORACLE_PQ_RECALL,
            ],
            "pq_ann_recall",
            recursive=True,
        ),
        "embedding_diverse_sample": _ext_oracle(
            [_sim.oracle_ivf_diverse_sample()], "ivf_diverse_sample"
        ),
        "embedding_semdedup": _ext_oracle(
            [_sim.oracle_semdedup()], "semantic_dedup"
        ),
        "text_decontaminate_semantic": _ext_oracle(
            [_sim.oracle_semantic_decontaminate()],
            "semantic_decontaminate",
        ),
        "text_hashing_collisions": _ext_oracle(
            [_text.ORACLE_HASHING_COLLISIONS], "hashing_collision_report"
        ),
        "text_token_counts": _ext_oracle(
            [_text.ORACLE_TOKEN_COUNTS], "token_counts"
        ),
        "text_quality": _ext_oracle(
            [_text.oracle_quality_scores()], "quality_scores"
        ),
        "text_lang_id": _ext_oracle(
            [_text.oracle_lang_id()], "lang_scored"
        ),
        "text_lang_confusion": _ext_oracle(
            [_text.oracle_lang_id(), _text.oracle_lang_confusion()],
            "lang_confusion",
        ),
        "text_fingerprints": _ext_oracle(
            [_text.ORACLE_FINGERPRINTS], "fingerprints"
        ),
        "text_top_terms": _ext_oracle(
            [_text.ORACLE_TOP_TERMS_PER_LANG], "top_terms_per_lang"
        ),
        "text_tfidf_top_terms": _ext_oracle(
            [_text.ORACLE_TFIDF_TOP_TERMS], "tfidf_top_terms"
        ),
        "text_redact_pii": _ext_oracle(
            [_text.ORACLE_REDACT_PII], "redact_pii"
        ),
        "text_repetition": _ext_oracle(
            [_text.ORACLE_REPETITION], "repetition_scores"
        ),
        "docs_chunks": _ext_oracle(
            [_text.ORACLE_CHUNKS], "chunk_documents"
        ),
        "docs_chunks_udtf": _ext_oracle(
            [_text.ORACLE_CHUNKS], "chunk_documents"
        ),
        "docs_source_mix": _ext_oracle(
            [
                _text.ORACLE_TOKEN_COUNTS,
                _text.oracle_quality_scores(),
                _text.ORACLE_SOURCE_MIX,
            ],
            "source_mix",
        ),
        "docs_quality_topfrac": _ext_oracle(
            [
                _text.oracle_quality_scores(),
                _text.oracle_quality_top_fraction(),
            ],
            "quality_top_fraction",
        ),
        "text_skipgram_pmi": _ext_oracle(
            [_text.ORACLE_SKIPGRAM_PMI], "skipgram_pmi"
        ),
        "events_retention": _ext_oracle(
            [_tmp.ORACLE_RETENTION_COHORTS], "retention_cohorts"
        ),
        "ml_logreg_verified": _ext_oracle(
            [_glm.oracle_logreg()], "logreg_train"
        ),
        "ml_ols_verified": _ext_oracle(
            [_glm.ORACLE_OLS], "ols_train"
        ),
        "ml_conformal_ols": _ext_oracle(
            [_glm.ORACLE_CONFORMAL], "conformal_ols"
        ),
        "ml_ols_cv": _ext_oracle(
            [_glm.oracle_ols_cv()], "ols_cv"
        ),
        "events_dbscan": _ext_oracle(
            [_clu.ORACLE_DBSCAN], "dbscan_clusters", recursive=True
        ),
        "events_density_outliers": _ext_oracle(
            [_clu.ORACLE_RDF_OUTLIERS], "relative_density_outliers"
        ),
        "events_bootstrap_ci": _ext_oracle(
            [_tmp.oracle_bootstrap_ci()], "bootstrap_mean_ci"
        ),
        "events_hist_quantiles": _ext_oracle(
            [_tmp.ORACLE_HISTOGRAM_QUANTILES], "histogram_quantiles"
        ),
        "events_kmv_algebra": _ext_oracle(
            [_tmp.ORACLE_KMV_SET_ALGEBRA], "kmv_set_algebra"
        ),
        "events_kmv_sketch": _ext_oracle(
            [_tmp.ORACLE_KMV_SKETCH], "kmv_distinct_sketch"
        ),
        "events_approx_distinct": _ext_oracle(
            [_tmp.ORACLE_APPROX_DISTINCT_CHECKED],
            "events_approx_distinct",
        ),
        "events_gapfill": _ext_oracle(
            [_tmp.ORACLE_GAPFILL], "gapfill_daily"
        ),
        "events_hll_sketch": _ext_oracle(
            [_tmp.ORACLE_HLL], "hll_distinct"
        ),
        "events_lttb": _ext_oracle(
            [_tmp.ORACLE_LTTB], "lttb_downsample"
        ),
        "events_markov_predict": _ext_oracle(
            [_tmp.ORACLE_MARKOV_PREDICT], "markov_predict"
        ),
        "events_type_corr": _ext_oracle(
            [_tmp.ORACLE_TYPE_CORR], "type_correlations"
        ),
        "events_km_survival": _ext_oracle(
            [_tmp.ORACLE_KM_SURVIVAL], "km_survival"
        ),
        "events_cox_ph": _ext_oracle(
            [_tmp.oracle_cox_ph()], "cox_ph_train"
        ),
        "events_nelson_aalen": _ext_oracle(
            [_tmp.ORACLE_NELSON_AALEN], "nelson_aalen"
        ),
        "events_qini": _ext_oracle([_tmp.ORACLE_QINI], "qini_uplift"),
        "ml_platt_verified": _ext_oracle(
            [_glm.oracle_platt()], "platt_calibration"
        ),
        "ml_isotonic_verified": _ext_oracle(
            [_glm.ORACLE_ISOTONIC], "isotonic_calibration"
        ),
        "events_logrank": _ext_oracle(
            [_tmp.ORACLE_LOGRANK], "logrank_test"
        ),
        "orders_backlog": _ext_oracle(
            [_tmp.ORACLE_BACKLOG], "orders_backlog_curve"
        ),
        "price_index": _ext_oracle(
            [_ana.ORACLE_PRICE_INDEX], "price_index_report"
        ),
        "market_hhi": _ext_oracle([_ana.ORACLE_HHI], "market_hhi"),
        "parts_abc": _ext_oracle([_ana.ORACLE_ABC], "abc_classes"),
        "parts_abc_xyz": _ext_oracle(
            [_ana.ORACLE_ABC_XYZ], "abc_xyz_matrix"
        ),
        "events_ipf": _ext_oracle(
            [_tmp.oracle_ipf_raking()], "ipf_raking"
        ),
        "orders_atkinson": _ext_oracle(
            [_tmp.ORACLE_ATKINSON], "orders_atkinson"
        ),
        "orders_reorder_policy": _ext_oracle(
            [_tmp.oracle_reorder_policy()], "orders_reorder_policy",
            recursive=True,
        ),
        "events_adstock": _ext_oracle(
            [_tmp.ORACLE_ADSTOCK], "events_adstock"
        ),
        "events_changepoint": _ext_oracle(
            [_tmp.ORACLE_CHANGEPOINT], "events_changepoint"
        ),
        "events_stratified_ate": _ext_oracle(
            [_tmp.ORACLE_STRAT_ATE], "stratified_ate"
        ),
        "delta_advisor": _ext_oracle(
            [_prof.oracle_delta_advisor()], "delta_encoding_advisor"
        ),
        "events_effect_size": _ext_oracle(
            [_tmp.ORACLE_EFFECT_SIZE], "effect_size_report"
        ),
        "events_hill_tail": _ext_oracle(
            [_tmp.ORACLE_HILL], "hill_tail_index"
        ),
        "events_granger": _ext_oracle(
            [_glm.ORACLE_GRANGER], "granger_test"
        ),
        "graph_rich_club": _ext_oracle(
            [_graph.oracle_rich_club()], "rich_club"
        ),
        "ann_knn_classifier": _ext_oracle(
            [_sim.ORACLE_KNN_CLS], "knn_classifier_eval"
        ),
        "events_top_paths": _ext_oracle(
            [_tmp.ORACLE_TOP_PATHS], "top_paths"
        ),
        "ann_binary_topk": _ext_oracle(
            [_sim.ORACLE_BINARY_TOPK], "binary_ann_topk"
        ),
        "ann_binary_recall": _ext_oracle(
            [
                _sim.ORACLE_BRUTE_FORCE_TOPK,
                _sim.ORACLE_BINARY_TOPK,
                _sim.ORACLE_BINARY_RECALL,
            ],
            "binary_ann_recall",
        ),
        "events_rmst": _ext_oracle([_tmp.ORACLE_RMST], "rmst_report"),
        "events_wilcoxon": _ext_oracle(
            [_tmp.ORACLE_WILCOXON], "wilcoxon_signed_rank"
        ),
        "events_mcnemar": _ext_oracle(
            [_tmp.ORACLE_MCNEMAR], "mcnemar_test"
        ),
        "events_runs_test": _ext_oracle([_tmp.ORACLE_RUNS], "runs_test"),
        "events_variance_ratio": _ext_oracle(
            [_tmp.ORACLE_VARRATIO], "variance_ratio_screen"
        ),
        "parts_newsvendor": _ext_oracle(
            [_tmp.ORACLE_NEWSVENDOR], "newsvendor_stock"
        ),
        "parts_eoq": _ext_oracle([_tmp.ORACLE_EOQ], "eoq_report"),
        "orders_service_level": _ext_oracle(
            [_tmp.ORACLE_SERVICE_LEVEL], "service_level_report"
        ),
        "orders_erlang_blocking": _ext_oracle(
            [_tmp.oracle_erlang_blocking()], "erlang_blocking"
        ),
        "orders_erlang_wait": _ext_oracle(
            [_tmp.oracle_erlang_wait()], "erlang_wait"
        ),
        "events_kendall_tau": _ext_oracle(
            [_tmp.ORACLE_KENDALL], "kendall_tau_daily"
        ),
        "events_kruskal_wallis": _ext_oracle(
            [_tmp.ORACLE_KRUSKAL], "kruskal_wallis"
        ),
        "events_levene": _ext_oracle(
            [_tmp.ORACLE_LEVENE], "levene_test"
        ),
        "events_durbin_watson": _ext_oracle(
            [_tmp.ORACLE_DURBIN_WATSON], "durbin_watson"
        ),
        "events_grubbs": _ext_oracle(
            [_tmp.ORACLE_GRUBBS], "grubbs_extreme"
        ),
        "events_brown_forsythe": _ext_oracle(
            [_tmp.ORACLE_BROWN_FORSYTHE], "brown_forsythe"
        ),
        "events_cliffs_delta": _ext_oracle(
            [_tmp.ORACLE_CLIFFS_DELTA], "cliffs_delta"
        ),
        "events_cochran_q": _ext_oracle(
            [_tmp.ORACLE_COCHRAN_Q], "cochran_q"
        ),
        "events_page_trend": _ext_oracle(
            [_tmp.ORACLE_PAGE_TREND], "page_trend"
        ),
        "events_hurst": _ext_oracle(
            [_tmp.ORACLE_HURST], "hurst_exponent"
        ),
        "events_weibull": _ext_oracle(
            [_tmp.ORACLE_WEIBULL], "weibull_fit"
        ),
        "events_bartlett": _ext_oracle(
            [_tmp.ORACLE_BARTLETT], "bartlett_test"
        ),
        "events_rayleigh": _ext_oracle(
            [_tmp.ORACLE_RAYLEIGH], "rayleigh_hour"
        ),
        "events_vonmises": _ext_oracle(
            [_tmp.ORACLE_VONMISES], "events_vonmises"
        ),
        "events_perm_entropy": _ext_oracle(
            [_tmp.ORACLE_PERM_ENTROPY], "events_perm_entropy"
        ),
        "events_bursts": _ext_oracle(
            [_tmp.ORACLE_BURSTS], "events_bursts", recursive=True
        ),
        "events_sample_entropy": _ext_oracle(
            [_tmp.ORACLE_SAMPEN], "events_sample_entropy"
        ),
        "embedding_mmd": _ext_oracle(
            [_sim.oracle_embedding_mmd()], "embedding_mmd"
        ),
        "embedding_intrinsic_dim": _ext_oracle(
            [_sim.oracle_intrinsic_dim()], "embedding_intrinsic_dim"
        ),
        "embedding_hubness": _ext_oracle(
            [_sim.oracle_hubness()], "embedding_hubness"
        ),
        "events_periodogram": _ext_oracle(
            [_tmp.ORACLE_PERIODOGRAM], "events_periodogram"
        ),
        "events_hbos_outliers": _ext_oracle(
            [_tmp.ORACLE_HBOS], "events_hbos_outliers"
        ),
        "events_yuen": _ext_oracle([_tmp.ORACLE_YUEN], "events_yuen"),
        "events_cramers_v": _ext_oracle(
            [_tmp.ORACLE_CRAMERS_V], "events_cramers_v"
        ),
        "events_tost": _ext_oracle([_tmp.ORACLE_TOST], "events_tost"),
        "events_mh_odds": _ext_oracle(
            [_tmp.ORACLE_MANTEL_HAENSZEL], "events_mh_odds"
        ),
        "orders_bass_model": _ext_oracle(
            [_tmp.ORACLE_BASS], "orders_bass_model"
        ),
        "orders_gamma_fit": _ext_oracle(
            [_tmp.ORACLE_GAMMA_FIT], "orders_gamma_fit"
        ),
        "events_nb_fit": _ext_oracle(
            [_tmp.ORACLE_NB_FIT], "events_nb_fit"
        ),
        "events_ewma_chart": _ext_oracle(
            [_tmp.ORACLE_EWMA_CHART], "events_ewma_chart",
            recursive=True,
        ),
        "events_mk_seasonal": _ext_oracle(
            [_tmp.ORACLE_SEASONAL_MK], "events_mk_seasonal"
        ),
        "events_wilson_ci": _ext_oracle(
            [_tmp.ORACLE_WILSON], "events_wilson_ci"
        ),
        "events_lru_hitrate": _ext_oracle(
            [_tmp.ORACLE_LRU_HITRATE], "events_lru_hitrate",
            recursive=True,
        ),
        "events_cvm": _ext_oracle(
            [_tmp.ORACLE_CVM], "cramer_von_mises"
        ),
        "events_anderson_darling": _ext_oracle(
            [_tmp.ORACLE_AD_2S], "anderson_darling_2s"
        ),
        "join_order_advisor": _ext_oracle(
            [_prof.ORACLE_JOIN_ORDER], "join_order_advisor"
        ),
        "events_aqp_revenue": _ext_oracle(
            [_prof.oracle_aqp_revenue()], "aqp_revenue"
        ),
        "dedup_cdc": _ext_oracle(
            [_dedup.ORACLE_CDC], "cdc_chunk_report"
        ),
        "events_welch_anova": _ext_oracle(
            [_tmp.ORACLE_WELCH_ANOVA], "welch_anova"
        ),
        "events_friedman": _ext_oracle(
            [_tmp.ORACLE_FRIEDMAN], "friedman_test"
        ),
        "events_tukey_hsd": _ext_oracle(
            [_tmp.ORACLE_TUKEY], "tukey_hsd"
        ),
        "orders_lot_sizing": _ext_oracle(
            [_tmp.oracle_lot_sizing()], "lot_sizing"
        ),
        "text_novelty": _ext_oracle(
            [_text.ORACLE_NOVELTY], "novelty_attribution"
        ),
        "events_gumbel": _ext_oracle(
            [_tmp.ORACLE_GUMBEL], "gumbel_maxima"
        ),
        "events_dtw": _ext_oracle(
            [_tmp.ORACLE_DTW], "dtw_alignment", recursive=True
        ),
        "docs_nw_align": _ext_oracle(
            [_text.ORACLE_NW], "nw_alignment", recursive=True
        ),
        "media_sniff_dims": _ext_oracle(
            [_mm.ORACLE_SNIFF_DIMS], "media_sniff_dims"
        ),
        "media_wav_meta": _ext_oracle(
            [_mm.ORACLE_WAV_META], "media_wav_meta"
        ),
        "events_cohort_ltv": _ext_oracle(
            [_tmp.ORACLE_COHORT_LTV], "cohort_ltv"
        ),
        "events_approx_quantile": _ext_oracle(
            [_tmp.ORACLE_APPROX_PCTL], "events_approx_quantile"
        ),
        "events_stickiness": _ext_oracle(
            [_tmp.ORACLE_STICKINESS], "stickiness_report"
        ),
        "events_matrix_profile": _ext_oracle(
            [_tmp.oracle_matrix_profile()], "matrix_profile_report"
        ),
        "events_acf": _ext_oracle([_tmp.oracle_acf()], "acf_report"),
        "events_pacf": _ext_oracle(
            [_tmp.oracle_pacf()], "pacf_report"
        ),
        "events_ccf": _ext_oracle([_tmp.oracle_ccf()], "ccf_report"),
        "events_wht": _ext_oracle([_tmp.oracle_wht()], "wht_spectrum"),
        "events_haar": _ext_oracle(
            [_tmp.oracle_haar()], "haar_energy"
        ),
        "ml_poisson_verified": _ext_oracle(
            [_glm.oracle_poisson()], "poisson_train"
        ),
        "events_peaks": _ext_oracle([_tmp.ORACLE_PEAKS], "revenue_peaks"),
        "ann_rocchio": _ext_oracle(
            [_sim.ORACLE_ROCCHIO], "rocchio_classifier_eval"
        ),
        "docs_vocab_chao1": _ext_oracle(
            [_text.ORACLE_CHAO1], "vocab_chao1"
        ),
        "docs_source_overlap": _ext_oracle(
            [_text.ORACLE_SOURCE_OVERLAP], "source_vocab_overlap"
        ),
        "docs_krippendorff": _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_UNIGRAM_LOGPROB,
                _text.ORACLE_CCNET_BUCKETS,
                _text.ORACLE_KRIPPENDORFF,
            ],
            "krippendorff_alpha",
        ),
        "docs_rater_kappa": _ext_oracle(
            [
                _text.oracle_gopher_rules(),
                _text.ORACLE_UNIGRAM_LOGPROB,
                _text.ORACLE_CCNET_BUCKETS,
                _text.ORACLE_KAPPA,
            ],
            "rater_kappa",
        ),
        "events_offpolicy": _ext_oracle(
            [_tmp.ORACLE_IPS], "offpolicy_ips"
        ),
        "graph_modularity": _ext_oracle(
            [_graph.oracle_modularity()], "community_modularity"
        ),
        "events_group_sequential": _ext_oracle(
            [_tmp.oracle_group_sequential()], "group_sequential_test"
        ),
        "dq_constraints": _ext_oracle(
            [_prof.ORACLE_DQ], "dq_constraint_report"
        ),
        "mv_rollup_rewrite": _ext_oracle(
            [_rel.ORACLE_MV_REWRITE], "mv_rollup_rewrite"
        ),
        "events_concurrency": _ext_oracle(
            [_tmp.ORACLE_CONCURRENCY], "concurrency_curve"
        ),
        "events_stl_decompose": _ext_oracle(
            [_tmp.ORACLE_STL], "stl_decompose"
        ),
        "udf_grouped_map": _ext_oracle(
            [_udafs.ORACLE_GROUPED_MAP_SLOPE], "grouped_map_slope"
        ),
        "udf_grouped_agg": _ext_oracle(
            [_udafs.ORACLE_GROUPED_AGG], "grouped_agg_spend"
        ),
        "events_twap": _ext_oracle(
            [_tmp.ORACLE_TWAP], "twap_by_type"
        ),
        "events_bitmap_retention": _ext_oracle(
            [_tmp.ORACLE_BITMAP_RETENTION], "bitmap_retention"
        ),
        "text_decontaminate": _ext_oracle(
            [_dedup.ORACLE_DECONTAMINATE_NGRAM], "decontaminate_ngram"
        ),
        "dedup_winnowing": _ext_oracle(
            [_dedup.ORACLE_WINNOWING], "winnowing_pairs"
        ),
        "events_cms_hitters": _ext_oracle(
            [_tmp.ORACLE_CMS], "cms_heavy_hitters"
        ),
        "events_incremental_rollup": _ext_oracle(
            [_tmp.ORACLE_INCREMENTAL_ROLLUP], "incremental_rollup"
        ),
        "events_ohlc": _ext_oracle(
            [_tmp.ORACLE_HOURLY_OHLC], "hourly_ohlc"
        ),
        "pysource_docs": _ext_oracle(
            [_pds.ORACLE_SYNTHETIC_DOCS], "synthetic_docs"
        ),
        "pysink_docs": _ext_oracle(
            [_pds.ORACLE_DOCS_PYSINK_ROUNDTRIP], "docs_pysink_roundtrip"
        ),
        "events_session_paths": _ext_oracle(
            [_ev.ORACLE_SESSION_PATHS], "session_paths"
        ),
        "docs_grouping_sets": _ext_oracle(
            [_prof.ORACLE_GROUPING_SETS], "docs_grouping_sets"
        ),
        "pagerank_products": _ext_oracle(
            [_graph.oracle_pagerank()], "pagerank_products"
        ),
        "graph_clustering_coef": _ext_oracle(
            [_graph.ORACLE_CLUSTERING_COEF], "clustering_coefficient"
        ),
        "graph_triangles": _ext_oracle(
            [_graph.ORACLE_TRIANGLE_COUNTS], "triangle_counts"
        ),
        "graph_degree_stats": _ext_oracle(
            [_graph.ORACLE_DEGREE_STATS], "degree_stats"
        ),
        "graph_kcore": _ext_oracle(
            [_graph.oracle_k_core()], "k_core_membership"
        ),
        "graph_ktruss": _ext_oracle(
            [_graph.oracle_ktruss()], "ktruss_edges"
        ),
        "graph_link_prediction": _ext_oracle(
            [_graph.oracle_link_prediction_ra()], "link_prediction_ra"
        ),
        "graph_adamic_adar": _ext_oracle(
            [_graph.oracle_adamic_adar()], "adamic_adar"
        ),
        "graph_assortativity": _ext_oracle(
            [_graph.ORACLE_ASSORTATIVITY], "degree_assortativity"
        ),
        "nation_rca": _ext_oracle(
            [_ana.ORACLE_NATION_RCA], "nation_rca"
        ),
        "docs_systematic_sample": _ext_oracle(
            [_samp.ORACLE_SYSTEMATIC], "systematic_sample"
        ),
        "graph_sssp": _ext_oracle(
            [_graph.oracle_sssp_weighted()], "sssp_weighted"
        ),
        "graph_betweenness": _ext_oracle(
            [_graph.oracle_betweenness()], "graph_betweenness"
        ),
        "graph_closeness": _ext_oracle(
            [_graph.oracle_closeness()], "graph_closeness"
        ),
        "graph_betweenness_stability": _ext_oracle(
            [_graph.oracle_betweenness_stability()],
            "graph_betweenness_stability",
        ),
        "graph_hits": _ext_oracle(
            [_graph.oracle_hits()], "graph_hits"
        ),
        "graph_diameter_est": _ext_oracle(
            [_graph.oracle_diameter()], "graph_diameter_est"
        ),
        "graph_bfs": _ext_oracle(
            [_graph.oracle_bfs_distances()], "bfs_distances"
        ),
        "graph_lpa": _ext_oracle(
            [_graph.oracle_lpa_communities()], "lpa_communities"
        ),
        "graph_item_similarity": _ext_oracle(
            [_graph.oracle_item_similarity()], "item_similarity"
        ),
        "graph_item_sim_hitrate": _ext_oracle(
            [_graph.oracle_item_sim_holdout()], "item_sim_holdout"
        ),
        "events_winsorized": _ext_oracle(
            [_tmp.ORACLE_WINSORIZED_STATS], "winsorized_stats"
        ),
        "events_type_unpivot": _ext_oracle(
            [_tmp.ORACLE_USER_TYPE_UNPIVOT], "user_type_unpivot"
        ),
        "events_ewma": _ext_oracle(
            [_tmp.ORACLE_USER_VALUE_EWMA], "user_value_ewma"
        ),
        "orders_merge_upsert": _ext_oracle(
            [_rel.ORACLE_MERGE_UPSERT], "merge_upsert_orders"
        ),
        "sql_setops": _ext_oracle(
            [_sqlapi.ORACLE_SQL_SETOPS], "sql_setops_halves"
        ),
        "sql_named_window": _ext_oracle(
            [_sqlapi.ORACLE_SQL_NAMED_WINDOW], "sql_named_window"
        ),
        "sql_nullsafe": _ext_oracle(
            [_sqlapi.ORACLE_SQL_NULLSAFE], "sql_nullsafe_join"
        ),
        "sql_scripting": _ext_oracle(
            [_sqlapi.oracle_sql_scripting_peel()], "sql_scripting_peel"
        ),
        "sql_urgent_only": _ext_oracle(
            [_sqlapi.ORACLE_SQL_URGENT_ONLY], "sql_urgent_only"
        ),
        "sql_part_supplier_stats": _ext_oracle(
            [_sqlapi.ORACLE_SQL_PART_SUPPLIER_STATS],
            "sql_part_supplier_stats",
        ),
        "sql_small_qty_revenue": _ext_oracle(
            [_sqlapi.ORACLE_SQL_SMALL_QTY_REVENUE],
            "sql_small_qty_revenue",
        ),
        "sql_pipe_priority_stats": _ext_oracle(
            [_sqlapi.ORACLE_SQL_PIPE_PRIORITY_STATS],
            "sql_pipe_priority_stats",
        ),
        "sql_customer_chain": _ext_oracle(
            [_sqlapi.ORACLE_SQL_CUSTOMER_CHAIN],
            "sql_customer_chain",
            recursive=True,
        ),
        "text_bpe_train": _ext_oracle(
            [_text.oracle_bpe_train()], "bpe_train_merges"
        ),
        "text_bpe_fertility": _ext_oracle(
            [
                _text.oracle_bpe_train(),
                _text.oracle_bpe_fertility(),
            ],
            "text_bpe_fertility",
        ),
        "text_bpe_pairs": _ext_oracle(
            [_text.oracle_bpe_first_merges()], "bpe_first_merges"
        ),
        "text_unigram_lm": _ext_oracle(
            _text.oracle_unigram_train(), "text_unigram_lm"
        ),
        "text_unigram_fertility": _ext_oracle(
            _text.oracle_unigram_fertility(), "text_unigram_fertility"
        ),
        "text_bleu": _ext_oracle(
            [_text.ORACLE_BLEU_PAIRS], "bleu_pairs"
        ),
        "text_lexical_diversity": _ext_oracle(
            [_text.ORACLE_LEXICAL_DIVERSITY], "lexical_diversity"
        ),
        "events_pchart": _ext_oracle(
            [_tmp.ORACLE_PCHART], "error_pchart"
        ),
        "text_rouge": _ext_oracle(
            [_text.ORACLE_ROUGE_PAIRS], "rouge_pairs"
        ),
        "sql_dynamic_identifier": _ext_oracle(
            [_sqlapi.ORACLE_SQL_DYNAMIC_IDENTIFIER],
            "sql_dynamic_identifier",
        ),
        "sql_var_param_revenue": _ext_oracle(
            [_sqlapi.ORACLE_SQL_VAR_PARAM], "sql_var_param_revenue"
        ),
        "sql_pivot_returnflag": _ext_oracle(
            [_sqlapi.ORACLE_SQL_PIVOT], "sql_pivot_returnflag"
        ),
        "sql_lateral_top_orders": _ext_oracle(
            [_sqlapi.ORACLE_SQL_LATERAL_TOP_ORDERS],
            "sql_lateral_top_orders",
        ),
        "events_skew_report": _ext_oracle(
            [_prof.oracle_key_skew_report()], "key_skew_report"
        ),
        "sql_daily_gapfill": _ext_oracle(
            [_sqlapi.ORACLE_DAILY_GAPFILL],
            "sql_daily_gapfill",
            recursive=True,
        ),
        "xml_ingest_events": _ext_oracle(
            [ORACLE_EVENTS_XML_ROUNDTRIP], "events_xml_roundtrip"
        ),
        "orc_ingest_events": _ext_oracle(
            [ORACLE_EVENTS_ORC_ROUNDTRIP], "events_orc_roundtrip"
        ),
        "events_value_bins": _ext_oracle(
            [_tmp.ORACLE_VALUE_QUARTILE_BINS], "value_quartile_bins"
        ),
        "events_anomalies": _ext_oracle(
            [_tmp.ORACLE_ROLLING_ZSCORE], "rolling_zscore_anomalies"
        ),
        "dedup_fuzzy_prefix": _ext_oracle(
            [_dedup.ORACLE_FUZZY_PREFIX_PAIRS], "fuzzy_prefix_pairs"
        ),
        "docs_er_matches": _ext_oracle(
            [_dedup.ORACLE_ER_MATCHES], "er_matches"
        ),
        "docs_fellegi_sunter": _ext_oracle(
            [_dedup.oracle_fellegi_sunter()], "fellegi_sunter"
        ),
        "docs_phonetic_er": _ext_oracle(
            [_dedup.ORACLE_PHONETIC_ER], "phonetic_er_pairs"
        ),
        "parts_jaro_winkler": _ext_oracle(
            [_dedup.ORACLE_JARO_WINKLER], "jaro_winkler",
            recursive=True,
        ),
        "docs_template_dedup": _ext_oracle(
            [_dedup.ORACLE_TEMPLATE_DEDUP], "template_dedup"
        ),
        "text_phrase_search": _ext_oracle(
            [_text.ORACLE_PHRASE_SEARCH], "phrase_search"
        ),
        "events_ab_test": _ext_oracle(
            [_tmp.ORACLE_AB_TEST], "ab_test"
        ),
        "dedup_incremental": _ext_oracle(
            [_dedup.ORACLE_INCREMENTAL_DEDUP], "incremental_dedup"
        ),
        "docs_segment_dedup": _ext_oracle(
            [_dedup.ORACLE_SEGMENT_DEDUP], "segment_dedup"
        ),
        "dedup_cluster_reps": _ext_oracle(
            [
                _dedup.ORACLE_SHINGLES,
                _dedup.ORACLE_NGRAM_JACCARD,
                _dedup.ORACLE_CONNECTED_CLUSTERS,
                _text.oracle_quality_scores(),
                _dedup.ORACLE_CLUSTER_REPRESENTATIVES,
            ],
            "cluster_representatives",
            recursive=True,
        ),
        "dedup_retention": _ext_oracle(
            [
                _dedup.ORACLE_SHINGLES,
                _dedup.ORACLE_NGRAM_JACCARD,
                _dedup.ORACLE_CONNECTED_CLUSTERS,
                _text.oracle_quality_scores(),
                _dedup.ORACLE_CLUSTER_REPRESENTATIVES,
                _dedup.ORACLE_RETENTION_REPORT,
            ],
            "retention_report",
            recursive=True,
        ),
        "dedup_hybrid": _ext_oracle(
            [
                _dedup.ORACLE_SHINGLES,
                "dsizes AS (SELECT doc_id, count(*) AS n FROM dshingles"
                " GROUP BY doc_id)",
                _dedup.ORACLE_MINHASH_LSH,
                _sim.oracle_embedding_near_dup(),
                _dedup.ORACLE_HYBRID_NEAR_DUP,
            ],
            "hybrid_near_dup",
        ),
        "dedup_simhash": _ext_oracle(
            [_dedup._oracle_simhash()], "simhash_pairs"
        ),
        "dedup_decontaminate": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _dedup.ORACLE_DECONTAMINATE],
            "decontaminate",
        ),
        "docs_pack_batches": _ext_oracle(
            [_text.ORACLE_TOKEN_COUNTS, _text.ORACLE_PACK_BATCHES],
            "pack_batches",
        ),
        "docs_pack_sweep": _ext_oracle(
            [_text.ORACLE_TOKEN_COUNTS, _text.ORACLE_PACK_SWEEP],
            "docs_pack_sweep",
        ),
        "docs_pack_payloads": _ext_oracle(
            [_text.ORACLE_TOKEN_COUNTS, _text.ORACLE_PACK_PAYLOADS],
            "pack_payloads",
        ),
        "docs_split_by_hash": _ext_oracle(
            [_samp.ORACLE_SPLIT_BY_HASH], "split_by_hash"
        ),
        "events_tablesample": _ext_oracle(
            [_samp.ORACLE_TABLESAMPLE], "tablesample_events"
        ),
        "docs_global_shuffle": _ext_oracle(
            [_samp.ORACLE_GLOBAL_SHUFFLE], "global_shuffle"
        ),
        "events_l_diversity": _ext_oracle(
            [_privacy.ORACLE_L_DIVERSITY], "l_diversity_audit"
        ),
        "privacy_randomized_response": _ext_oracle(
            [_privacy.ORACLE_RANDOMIZED_RESPONSE],
            "privacy_randomized_response",
        ),
        "events_t_closeness": _ext_oracle(
            [_privacy.ORACLE_T_CLOSENESS], "t_closeness_audit"
        ),
        "zonemap_skipping_report": _ext_oracle(
            [_layout.oracle_zonemap_skipping()], "zonemap_skipping_report"
        ),
        "rle_layout_report": _ext_oracle(
            [_layout.oracle_rle_layout()], "rle_layout_report"
        ),
        "sql_clustered_orders": _ext_oracle(
            [_sqlapi.ORACLE_SQL_CLUSTERED_ORDERS], "sql_clustered_orders"
        ),
        "sql_filter_clause_stats": _ext_oracle(
            [_sqlapi.ORACLE_SQL_FILTER_CLAUSE], "sql_filter_clause_stats"
        ),
        "sql_udtf_chunks": _ext_oracle(
            [_text.ORACLE_CHUNKS], "chunk_documents"
        ),
        "sql_udf_tiers": _ext_oracle(
            [_sqlapi.ORACLE_SQL_UDF_TIERS], "sql_udf_discount_tiers"
        ),
        "join_cardinality_estimate": _ext_oracle(
            [_prof.oracle_join_cardinality()], "join_cardinality_estimate"
        ),
        "fd_discovery": _ext_oracle(
            [_prof.oracle_fd_discovery()], "fd_discovery"
        ),
        "ind_discovery": _ext_oracle(
            [_prof.oracle_ind_discovery()], "ind_discovery"
        ),
        "dict_advisor": _ext_oracle(
            [_prof.oracle_dict_advisor()], "dict_encoding_advisor"
        ),
        "docs_setcover": _ext_oracle(
            [_dedup.ORACLE_SHINGLES, _samp.oracle_setcover()],
            "setcover_selection",
        ),
        "docs_stratified_sample": _ext_oracle(
            [_samp.oracle_stratified_sample()], "stratified_sample"
        ),
        "docs_quality_sample": _ext_oracle(
            [_text.oracle_quality_scores(),
             _samp.oracle_quality_weighted_sample()],
            "quality_weighted_sample",
        ),
        "docs_weighted_sample_aes": _ext_oracle(
            [_text.oracle_quality_scores(),
             _samp.oracle_weighted_sample_aes()],
            "weighted_sample_aes",
        ),
        "docs_lang_temperature": _ext_oracle(
            [_samp.oracle_lang_temperature_sample()],
            "lang_temperature_sample",
        ),
        "fast_stats_profile": _ext_oracle(
            [_prof.ORACLE_FAST_STATS_PROFILE], "fast_stats_profile"
        ),
        "docs_profile": _ext_oracle(
            [_prof.oracle_profile_documents()], "profile_documents"
        ),
        "events_interarrival": _ext_oracle(
            [_tmp.ORACLE_USER_INTERARRIVAL], "user_interarrival_stats"
        ),
        "events_salted_join": _ext_oracle(
            [ORACLE_EVENTS_SALTED_JOIN], "events_salted_join"
        ),
        "ref_integrity_audit": _ext_oracle(
            [_prof.ORACLE_REF_INTEGRITY], "ref_integrity_audit"
        ),
        "events_pit_enrich": _ext_oracle(
            [_tmp.ORACLE_PIT_ENRICH], "pit_enrich"
        ),
        "events_wow_growth": _ext_oracle(
            [_tmp.ORACLE_WEEKLY_GROWTH], "weekly_growth"
        ),
        "lineitem_quarantine": _ext_oracle(
            [_prof.oracle_lineitem_quarantine()], "lineitem_quarantine"
        ),
        "orders_expectations": _ext_oracle(
            [_prof.oracle_orders_expectations()], "orders_expectations"
        ),
        "parts_pareto_skyline": _ext_oracle(
            [_ana.ORACLE_PARETO_SKYLINE], "pareto_skyline"
        ),
        "text_zipf_fit": _ext_oracle(
            [_text.oracle_zipf_fit()], "zipf_fit"
        ),
        "text_hashed_features": _ext_oracle(
            [_text.oracle_hashed_features()], "hashed_features"
        ),
        "text_textrank": _ext_oracle(
            [_text.oracle_textrank()], "textrank_keywords"
        ),
        "text_oov_rate": _ext_oracle(
            [_text.ORACLE_OOV_RATE], "text_oov_rate"
        ),
        "text_heaps_curve": _ext_oracle(
            [_text.oracle_heaps()], "heaps_curve"
        ),
        "pricing_summary": _ext_oracle(
            [_rel.ORACLE_PRICING_SUMMARY], "pricing_summary"
        ),
        "shipping_priority": _ext_oracle(
            [_rel.oracle_shipping_priority()], "shipping_priority"
        ),
        "customer_returns": _ext_oracle(
            [_rel.oracle_customer_returns()], "customer_returns"
        ),
        "large_orders": _ext_oracle(
            [_rel.oracle_large_orders()], "large_orders"
        ),
        "parts_except_all": _ext_oracle(
            [_rel.ORACLE_PARTS_EXCEPT_ALL], "parts_except_all"
        ),
        "orders_cdc_apply": _ext_oracle(
            [_rel.ORACLE_CDC_APPLY], "cdc_apply"
        ),
        "orders_ivm_retract": _ext_oracle(
            [_rel.ORACLE_AGG_VIEW_MAINTAIN], "agg_view_maintain"
        ),
        "events_rfm_segments": _ext_oracle(
            [_tmp.ORACLE_RFM_SEGMENTS], "rfm_segments"
        ),
        "events_rolling_dau": _ext_oracle(
            [_tmp.ORACLE_ROLLING_DAU], "rolling_dau"
        ),
        "events_user_funnel": _ext_oracle(
            [_tmp.ORACLE_USER_FUNNEL], "user_funnel"
        ),
        "events_attribution": _ext_oracle(
            [_tmp.ORACLE_LINEAR_ATTRIBUTION], "linear_attribution"
        ),
        "events_psi_drift": _ext_oracle(
            [_tmp.ORACLE_PSI_DRIFT], "psi_drift"
        ),
        "lineitem_weighted_median": _ext_oracle(
            [_rel.ORACLE_WEIGHTED_MEDIAN], "weighted_median_price"
        ),
        "table_diff_report": _ext_oracle(
            [_rel.ORACLE_TABLE_DIFF], "table_diff_report"
        ),
        "bloom_join_prune": _ext_oracle(
            [_rel.ORACLE_BLOOM_JOIN_PRUNE], "bloom_join_prune"
        ),
        "nation_revenue_share": _ext_oracle(
            [_rel.ORACLE_NATION_REVENUE_SHARE], "nation_revenue_share"
        ),
        "events_interpolate": _ext_oracle(
            [_tmp.ORACLE_INTERPOLATE_MISSING], "interpolate_missing"
        ),
        "loo_target_encoding": _oracle("loo_target_encoding"),
        "woe_iv_encoding": _oracle("woe_iv_encoding"),
        "info_gain_ranking": _oracle("info_gain_ranking"),
        "feature_correlations": _oracle("feature_correlations"),
        "parts_intersect_all": _ext_oracle(
            [_rel.ORACLE_PARTS_INTERSECT_ALL], "parts_intersect_all"
        ),
        "suppliers_waiting": _ext_oracle(
            [_rel.ORACLE_SUPPLIERS_WAITING], "suppliers_waiting"
        ),
        "top_supplier_revenue": _ext_oracle(
            [_rel.ORACLE_TOP_SUPPLIER_REVENUE], "top_supplier_revenue"
        ),
        "events_user_scd2": _ext_oracle(
            [_tmp.ORACLE_USER_STATE_SCD2], "user_state_scd2"
        ),
        "events_mad_outliers": _ext_oracle(
            [_tmp.ORACLE_MAD_OUTLIERS], "mad_outlier_stats"
        ),
        "text_bm25": _ext_oracle(
            [_text.oracle_bm25_search()], "bm25_search"
        ),
        "rag_rerank": _ext_oracle(
            [_text.ORACLE_CHUNKS, _sim.oracle_rag_rerank()],
            "rag_rerank",
        ),
        "embedding_mmr": _ext_oracle(
            [_sim.oracle_mmr_select()], "mmr_select"
        ),
        "rag_hybrid_rrf": _ext_oracle(
            [_sim.ORACLE_BRUTE_FORCE_TOPK, _sim.oracle_hybrid_rrf()],
            "hybrid_search_rrf",
        ),
        "ann_matryoshka_recall": _ext_oracle(
            [_sim.ORACLE_BRUTE_FORCE_TOPK, _sim.oracle_matryoshka()],
            "matryoshka_recall",
        ),
        "ann_graph_beam": _ext_oracle(
            [_sim.oracle_graph_ann_topk()], "graph_ann_topk"
        ),
        "embedding_silhouette": _ext_oracle(
            [_sim.ORACLE_CELL_SILHOUETTE], "cell_silhouette"
        ),
        "embedding_drift": _ext_oracle(
            [_sim.ORACLE_EMBEDDING_DRIFT], "embedding_drift_report"
        ),
        "embedding_isotropy": _ext_oracle(
            [_sim.ORACLE_EMBEDDING_ISOTROPY], "embedding_isotropy"
        ),
        "ann_retrieval_eval": _ext_oracle(
            [_sim.oracle_retrieval_eval()], "retrieval_eval"
        ),
        "ann_graph_recall": _ext_oracle(
            [_sim.oracle_graph_ann_recall()], "graph_ann_recall"
        ),
        "rag_context_pack": _ext_oracle(
            [_text.ORACLE_CHUNKS, _sim.oracle_rag_context_pack()],
            "rag_context_pack",
        ),
        "idle_rich_customers": _ext_oracle(
            [_rel.oracle_idle_rich_customers()], "idle_rich_customers"
        ),
        "late_order_priorities": _ext_oracle(
            [_ana.ORACLE_LATE_ORDER_PRIORITIES], "late_order_priorities"
        ),
        "forecast_revenue_change": _ext_oracle(
            [_ana.ORACLE_FORECAST_REVENUE], "forecast_revenue_change"
        ),
        "min_cost_supplier": _ext_oracle(
            [_ana.ORACLE_MIN_COST_SUPPLIER], "min_cost_supplier"
        ),
        "nation_market_share": _ext_oracle(
            [_ana.ORACLE_NATION_MARKET_SHARE], "nation_market_share"
        ),
        "priority_shipping_buckets": _ext_oracle(
            [_ana.ORACLE_PRIORITY_SHIPPING], "priority_shipping_buckets"
        ),
        "bloc_trade_volume": _ext_oracle(
            [_ana.ORACLE_BLOC_TRADE_VOLUME], "bloc_trade_volume"
        ),
        "nation_part_profit": _ext_oracle(
            [_ana.ORACLE_NATION_PART_PROFIT], "nation_part_profit"
        ),
        "important_parts": _ext_oracle(
            [_ana.ORACLE_IMPORTANT_PARTS], "important_parts"
        ),
        "customer_order_distribution": _ext_oracle(
            [_ana.ORACLE_CUSTOMER_ORDER_DISTRIBUTION],
            "customer_order_distribution",
        ),
        "disjunctive_revenue": _ext_oracle(
            [_ana.ORACLE_DISJUNCTIVE_REVENUE], "disjunctive_revenue"
        ),
        "excess_part_suppliers": _ext_oracle(
            [_ana.ORACLE_EXCESS_PART_SUPPLIERS], "excess_part_suppliers"
        ),
        "incremental_join_view": _ext_oracle(
            [_rel.ORACLE_INCREMENTAL_JOIN_VIEW], "incremental_join_view"
        ),
        "promo_revenue_share": _ext_oracle(
            [_rel.ORACLE_PROMO_REVENUE_SHARE], "promo_revenue_share"
        ),
        "orders_snapshot_diff": _ext_oracle(
            [_rel.ORACLE_ORDERS_SNAPSHOT_DIFF], "orders_snapshot_diff"
        ),
        "regional_revenue": _ext_oracle(
            [_rel.oracle_regional_revenue()], "regional_revenue"
        ),
        "stream_static_enrich": _ext_oracle(
            [_ev.ORACLE_STREAM_STATIC_ENRICH], "stream_static_enrich"
        ),
        "stream_hbos_alerts": _ext_oracle(
            [_ev.ORACLE_STREAM_HBOS], "stream_hbos_alerts"
        ),
        "stream_dedup_wwm": _ext_oracle(
            [_ev.ORACLE_STREAM_DEDUP_WWM], "stream_dedup_wwm"
        ),
        "stream_dedup": _ext_oracle(
            [_ev.ORACLE_STREAM_DEDUP], "stream_dedup"
        ),
        "events_session_funnel": _ext_oracle(
            [_ev.ORACLE_SESSION_FUNNEL], "session_funnel"
        ),
        "sql_segment_conversion": _ext_oracle(
            [_ev.ORACLE_SESSION_FUNNEL,
             _sqlapi.ORACLE_SQL_SEGMENT_CONVERSION],
            "sql_segment_conversion",
        ),
        "stream_partitioned_sink": _ext_oracle(
            [_ev.ORACLE_STREAM_PARTITIONED_SINK], "stream_partitioned_sink"
        ),
        "stream_hist_quantiles": _ext_oracle(
            [_ev.ORACLE_STREAM_HISTQ], "stream_hist_quantiles"
        ),
        "stream_ab_monitor": _ext_oracle(
            [_ev.ORACLE_STREAM_AB], "stream_ab_monitor"
        ),
        "stream_sprt": _ext_oracle(
            [_ev.ORACLE_STREAM_SPRT], "stream_sprt"
        ),
        "stream_extremes": _ext_oracle(
            [_tmp.ORACLE_GUMBEL], "gumbel_maxima"
        ),
        "stream_pchart": _ext_oracle(
            [_tmp.ORACLE_PCHART], "error_pchart"
        ),
        "docs_cluster_sample": _ext_oracle(
            [_samp.ORACLE_CLUSTER_SAMPLE], "cluster_sample"
        ),
        "events_ks_exponential": _ext_oracle(
            [_tmp.ORACLE_KS_EXPONENTIAL], "ks_exponential"
        ),
        "events_energy_distance": _ext_oracle(
            [_tmp.ORACLE_ENERGY], "energy_distance"
        ),
        "events_seasonality": _ext_oracle(
            [_tmp.ORACLE_STL, _tmp.ORACLE_SEASONALITY],
            "seasonality_strength",
        ),
        "text_ppl_buckets": _ext_oracle(
            [_text.ORACLE_UNIGRAM_LOGPROB, _text.ORACLE_PPL_BUCKETS],
            "ppl_bucket_report",
        ),
        "text_burstiness": _ext_oracle(
            [_text.ORACLE_BURSTINESS], "term_burstiness"
        ),
        "text_collocations": _ext_oracle(
            [_text.ORACLE_COLLOCATIONS], "collocations_llr"
        ),
        "events_mood_median": _ext_oracle(
            [_tmp.ORACLE_MOOD], "mood_median_test"
        ),
        "events_record_days": _ext_oracle(
            [_tmp.ORACLE_RECORDS], "record_days_test"
        ),
        "events_turning_points": _ext_oracle(
            [_tmp.ORACLE_TURNING], "turning_points_test"
        ),
        "orders_potwo_policy": _ext_oracle(
            [_tmp.oracle_lot_sizing(), _tmp.oracle_potwo()],
            "potwo_policy",
        ),
        "events_jarque_bera": _ext_oracle(
            [_tmp.ORACLE_JARQUE_BERA], "jarque_bera"
        ),
        "events_quartile_skew": _ext_oracle(
            [_tmp.ORACLE_QUARTILE_SKEW], "quartile_skew"
        ),
        "events_ansari_bradley": _ext_oracle(
            [_tmp.ORACLE_ANSARI], "ansari_bradley"
        ),
        "events_partial_corr": _ext_oracle(
            [_tmp.ORACLE_PARTIAL_CORR], "partial_correlation"
        ),
        "stream_kmv": _ext_oracle(
            [_ev.ORACLE_STREAM_KMV], "stream_kmv"
        ),
        "stream_cms": _ext_oracle(
            [_ev.ORACLE_STREAM_CMS], "stream_cms"
        ),
        "stream_hll": _ext_oracle(
            [_ev.ORACLE_STREAM_HLL], "stream_hll"
        ),
        "stream_merge_state": _ext_oracle(
            [_ev.ORACLE_STREAM_MERGE_STATE], "stream_merge_state"
        ),
        "stream_embedding_dedup": _ext_oracle(
            [_ev.oracle_stream_embedding_dedup()],
            "stream_embedding_dedup",
        ),
        "events_type_pivot": _ext_oracle(
            [_tmp.ORACLE_USER_TYPE_PIVOT], "user_type_pivot"
        ),
        "events_value_histogram": _ext_oracle(
            [_tmp.ORACLE_VALUE_HISTOGRAM], "value_histogram"
        ),
        "events_variant_rollup": _ext_oracle(
            [_ev.ORACLE_VARIANT_PROPS_ROLLUP], "variant_props_rollup"
        ),
        "events_rolling_hour": _ext_oracle(
            [_tmp.ORACLE_ROLLING_HOUR], "rolling_hour_stats"
        ),
        "geo_customer_rollup": _ext_oracle(
            [_rel.ORACLE_GEO_CUSTOMER_ROLLUP], "geo_customer_rollup"
        ),
        "json_ingest_events": _ext_oracle(
            [ORACLE_EVENTS_JSON_ROUNDTRIP], "events_json_roundtrip"
        ),
        "events_variant": _ext_oracle(
            [ORACLE_VARIANT_ROLLUP], "variant_daily_rollup"
        ),
        "text_ingest_docs": _ext_oracle(
            [ORACLE_DOCS_TEXT_ROUNDTRIP], "docs_text_roundtrip"
        ),
        "events_asof_join": _ext_oracle(
            [_tmp.ORACLE_ASOF_LAST_CLICK], "asof_last_click"
        ),
        "events_range_join": _ext_oracle(
            [_tmp.ORACLE_RANGE_JOIN_NEARBY_CLICKS],
            "range_join_nearby_clicks",
        ),
        "events_type_quantiles": _ext_oracle(
            [_tmp.ORACLE_TYPE_VALUE_QUANTILES], "type_value_quantiles"
        ),
        "events_cube_stats": _ext_oracle(
            [_tmp.ORACLE_CUBE_TYPE_DOW], "cube_type_dow"
        ),
        "events_user_trend": _ext_oracle(
            [_tmp.ORACLE_USER_VALUE_TREND], "user_value_trend"
        ),
        "events_spend_deciles": _ext_oracle(
            [_tmp.ORACLE_USER_SPEND_DECILES], "user_spend_deciles"
        ),
        "events_tumbling_hourly": _ext_oracle(
            [_ev.ORACLE_TUMBLING_HOURLY], "tumbling_hourly"
        ),
        "events_sliding_hourly": _ext_oracle(
            [_ev.ORACLE_SLIDING_HOURLY], "sliding_hourly"
        ),
        "events_sessionize": _ext_oracle(
            [_ev.ORACLE_SESSIONIZE], "sessionize"
        ),
        "events_json_stats": _ext_oracle(
            [_ev.ORACLE_JSON_PROPS_STATS], "json_props_stats"
        ),
        "events_user_stats_salted": _ext_oracle(
            [
                "user_stats_salted AS (\n"
                "  SELECT user_id, count(*) AS n_events,\n"
                "         round(sum(value), 4) AS sum_value\n"
                "  FROM events GROUP BY 1\n"
                ")"
            ],
            "user_stats_salted",
        ),
        "stream_tumbling_hourly": _ext_oracle(
            [_ev.ORACLE_TUMBLING_HOURLY], "tumbling_hourly"
        ),
        "stream_sliding_watermark": _ext_oracle(
            [_ev.ORACLE_STREAM_SLIDING_WATERMARK],
            "stream_sliding_watermark",
        ),
        "stream_session_window": _ext_oracle(
            [_ev.ORACLE_STREAM_SESSION_WINDOW], "stream_session_window"
        ),
        "stream_stateful_counts": _ext_oracle(
            [_st.ORACLE_STATEFUL_COUNTS], "stateful_counts"
        ),
        "stream_interval_join_outer": _ext_oracle(
            [_ev.ORACLE_STREAM_INTERVAL_JOIN_OUTER],
            "stream_interval_join_outer",
        ),
        "stream_checkpoint_restart": _ext_oracle(
            [_ev.ORACLE_STREAM_CKPT_RESTART], "stream_ckpt_restart"
        ),
        "stream_state_inspect": _ext_oracle(
            [_ev.ORACLE_STREAM_STATE_INSPECT], "stream_state_inspect"
        ),
        "stream_interval_join": _ext_oracle(
            [_ev.ORACLE_STREAM_INTERVAL_JOIN], "stream_interval_join"
        ),
    }
