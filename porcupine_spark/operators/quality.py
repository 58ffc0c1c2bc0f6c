"""Data-quality expectation checking — the dbt-test / Great-Expectations
shape as a distributed operator: declare rules, get one row per rule
with its violation count.

Row-level rules compile into ONE conditional-sum pass over the table
(no per-rule scan); referential rules are anti-joins (broadcast when
the dimension is small). At 100 TB this is the cheapest possible
formulation: a single scan + one tiny shuffle for the row rules, one
join per FK rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.functions.driverstate import materialize
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table


@query(
    "dq_violations_orders",
    """
    WITH row_rules AS (
      SELECT
        CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS nonpositive_price,
        CAST(SUM(CASE WHEN o_orderdate < DATE '1992-01-01'
                       OR o_orderdate > DATE '1998-12-31' THEN 1 ELSE 0 END) AS BIGINT)
          AS date_out_of_range,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
          AS bad_status,
        CAST(SUM(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END) AS BIGINT)
          AS suspicious_high_price
      FROM orders
    )
    SELECT 'nonpositive_price' AS rule, nonpositive_price AS n_violations FROM row_rules
    UNION ALL
    SELECT 'date_out_of_range', date_out_of_range FROM row_rules
    UNION ALL
    SELECT 'bad_status', bad_status FROM row_rules
    UNION ALL
    SELECT 'suspicious_high_price', suspicious_high_price FROM row_rules
    UNION ALL
    SELECT 'orphan_custkey', CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    tags=("quality",),
    doc="Expectation suite over orders: four row-level rules "
    "(non-positive price, date range, status domain, outlier price) "
    "evaluated in ONE conditional-sum scan, plus FK integrity "
    "(orders.o_custkey -> customer) as a broadcast anti-join. Output "
    "is one (rule, n_violations) row per rule — the monitoring-table "
    "shape a pipeline gate consumes.",
)
def dq_violations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def viol(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    row_rules = o.agg(
        viol(F.col("o_totalprice") <= 0).alias("nonpositive_price"),
        viol(
            (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
            | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date"))
        ).alias("date_out_of_range"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("bad_status"),
        viol(F.col("o_totalprice") > 400000).alias("suspicious_high_price"),
    )
    long_rules = row_rules.select(
        F.explode(
            F.create_map(
                F.lit("nonpositive_price"), F.col("nonpositive_price"),
                F.lit("date_out_of_range"), F.col("date_out_of_range"),
                F.lit("bad_status"), F.col("bad_status"),
                F.lit("suspicious_high_price"), F.col("suspicious_high_price"),
            )
        ).alias("rule", "n_violations")
    )
    orphans = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orphan_custkey").alias("rule"), "n_violations")
    )
    return long_rules.unionByName(orphans)


@query(
    "profile_orders_columns",
    """
    WITH t AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(o_custkey) AS nn_custkey,
             COUNT(DISTINCT o_custkey) AS nd_custkey,
             CAST(MIN(o_custkey) AS VARCHAR) AS min_custkey,
             CAST(MAX(o_custkey) AS VARCHAR) AS max_custkey,
             COUNT(o_orderstatus) AS nn_status,
             COUNT(DISTINCT o_orderstatus) AS nd_status,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS min_status,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS max_status,
             COUNT(o_orderdate) AS nn_date,
             COUNT(DISTINCT o_orderdate) AS nd_date,
             CAST(MIN(o_orderdate) AS VARCHAR) AS min_date,
             CAST(MAX(o_orderdate) AS VARCHAR) AS max_date
      FROM orders
    )
    SELECT 'o_custkey' AS col, n_rows, CAST(n_rows - nn_custkey AS BIGINT) AS n_nulls,
           CAST(nd_custkey AS BIGINT) AS n_distinct, min_custkey AS min_str, max_custkey AS max_str
    FROM t
    UNION ALL
    SELECT 'o_orderstatus', n_rows, CAST(n_rows - nn_status AS BIGINT),
           CAST(nd_status AS BIGINT), min_status, max_status FROM t
    UNION ALL
    SELECT 'o_orderdate', n_rows, CAST(n_rows - nn_date AS BIGINT),
           CAST(nd_date AS BIGINT), min_date, max_date FROM t
    """,
    tags=("quality", "profile"),
    doc="ANALYZE-style column profiling (the data-catalog stats shape): "
    "rows / nulls / exact distinct / min / max for a column set, all in "
    "ONE aggregation pass over the table (multi-column COUNT DISTINCT "
    "expands map-side; stringified min/max so heterogeneous column "
    "types share one output schema). At 100 TB swap exact distinct for "
    "approx_count_distinct per column - same single-pass plan.",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    t = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_custkey"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.min("o_custkey").cast("string").alias("min_custkey"),
        F.max("o_custkey").cast("string").alias("max_custkey"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").cast("string").alias("min_status"),
        F.max("o_orderstatus").cast("string").alias("max_status"),
        F.count("o_orderdate").alias("nn_date"),
        F.countDistinct("o_orderdate").alias("nd_date"),
        F.min("o_orderdate").cast("string").alias("min_date"),
        F.max("o_orderdate").cast("string").alias("max_date"),
    )

    def row(col, nn, nd, mn, mx):
        return t.select(
            F.lit(col).alias("col"),
            F.col("n_rows"),
            (F.col("n_rows") - F.col(nn)).alias("n_nulls"),
            F.col(nd).alias("n_distinct"),
            F.col(mn).alias("min_str"),
            F.col(mx).alias("max_str"),
        )

    return (
        row("o_custkey", "nn_custkey", "nd_custkey", "min_custkey", "max_custkey")
        .unionByName(row("o_orderstatus", "nn_status", "nd_status", "min_status", "max_status"))
        .unionByName(row("o_orderdate", "nn_date", "nd_date", "min_date", "max_date"))
    )


@query(
    "rfm_segmentation",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, last_order, frequency, monetary,
             NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_quartile,
             NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_quartile,
             NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_quartile
      FROM per_cust
    )
    SELECT r_quartile, f_quartile, m_quartile,
           COUNT(*) AS n_customers,
           CAST(MIN(monetary) AS DOUBLE) AS min_monetary,
           CAST(MAX(monetary) AS DOUBLE) AS max_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
    tags=("window", "analytics"),
    doc="RFM segmentation (recency / frequency / monetary quartiles "
    "per customer, then segment sizes): one shuffle aggregates orders "
    "per customer (exact-decimal monetary so quartile boundaries are "
    "engine-identical), NTILE windows with deterministic tie-breaks "
    "assign quartiles over the CUSTOMER-sized table, and the final "
    "rollup is segment-bounded (<=64 rows). No single-task NTILE "
    "windows: each quartile comes from a DISTRIBUTED global rank "
    "(functions/topk.global_rank — range-partition + partitioned "
    "row_number + per-partition offsets) and exact integer NTILE "
    "arithmetic on (rank, n) - byte-identical to the window function "
    "at any customer count.",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.concurrent import run_concurrently
    from porcupine_spark.functions.topk import global_rank, ntile_from_rank

    o = load_table(spark, sf_dir, "orders")
    # The three quartile rankings are INDEPENDENT total orders over the
    # same customer aggregate — the old chained form (rank R, then F
    # over R's output, then M over F's) serialized three range-shuffle +
    # checkpoint + offset-collect rounds for no reason. Checkpoint the
    # aggregate once, run the three global_ranks concurrently
    # (optimization r8, guide §2.6), and recombine on the unique
    # customer key: a global rank is determined purely by its total
    # order (the offset pass corrects for ANY partition layout), so
    # each rank column is identical to the chained form's.
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .transform(materialize)
    )

    def _ranked(metric: str, rank_col: str, keep_metric: bool):
        cols = ["o_custkey", metric]

        def thunk():
            rk, n, _ = global_rank(
                per_cust.select(*cols),
                [F.desc(metric), F.asc("o_custkey")],
                rank_col=rank_col,
            )
            out_cols = ["o_custkey", rank_col] + ([metric] if keep_metric else [])
            return rk.select(*out_cols), n

        return thunk

    (r_out, n), (f_out, _), (m_out, _) = run_concurrently(
        _ranked("last_order", "_r", False),
        _ranked("frequency", "_f", False),
        _ranked("monetary", "_m", True),
    )
    scored = (
        m_out.join(r_out, "o_custkey")
        .join(f_out, "o_custkey")
        .select(
            "monetary",
            ntile_from_rank("_r", n, 4).cast("long").alias("r_quartile"),
            ntile_from_rank("_f", n, 4).cast("long").alias("f_quartile"),
            ntile_from_rank("_m", n, 4).cast("long").alias("m_quartile"),
        )
    )
    return scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("monetary").alias("min_monetary"),
        F.max("monetary").alias("max_monetary"),
    )


# log10(1+1/d) in parts-per-million; the nine values sum to exactly 1e6
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)
_BENFORD_SQL_VALUES = ", ".join(
    f"({d}, {p})" for d, p in enumerate(BENFORD_PPM, start=1)
)


@query(
    "order_value_benford",
    f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(TRUNC(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
      SELECT digit, COUNT(*) AS n_orders FROM digits GROUP BY digit
    ),
    tot AS (SELECT SUM(n_orders) AS t FROM counts),
    expected(digit, benford_ppm) AS (VALUES {_BENFORD_SQL_VALUES})
    SELECT e.digit,
           COALESCE(c.n_orders, 0) AS n_orders,
           CAST(COALESCE(c.n_orders, 0) * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS observed_ppm,
           CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
           CAST(COALESCE(c.n_orders, 0) * 1000000 // (SELECT t FROM tot)
                - e.benford_ppm AS BIGINT) AS delta_ppm
    FROM expected e LEFT JOIN counts c ON c.digit = e.digit
    """,
    tags=("quality", "monitoring"),
    doc="Benford first-digit audit of order values: organically-priced "
    "amounts follow log10(1+1/d); fabricated, capped, or unit-mangled "
    "data does not, so a fat delta on one digit is a data-quality "
    "alarm (the classic forensic-accounting test, applied as a DQ "
    "monitor). First digit extracted INTEGER-SIDE: value*100 truncated "
    "to cents (one IEEE multiply + trunc, convention-free both "
    "engines), then the leading character of the integer's decimal "
    "string - no log10, no float formatting. Expected shares are "
    "fixed ppm literals summing to exactly 1e6. One groupBy on a "
    "9-value key; output is 9 rows at any scale.",
)
def order_value_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.expr("CAST(CAST(o_totalprice * 100 AS BIGINT) AS STRING)"), 1, 1
    ).cast("int")
    counts = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = counts.agg(F.sum("n_orders").alias("t"))
    expected = spark.createDataFrame(
        [(d, p) for d, p in enumerate(BENFORD_PPM, start=1)],
        "digit int, benford_ppm long",
    )
    return (
        expected.join(counts, "digit", "left")
        .withColumn("n_orders", F.coalesce("n_orders", F.lit(0).cast("long")))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.expr("CAST(n_orders * 1000000 div t AS BIGINT)").alias("observed_ppm"),
            "benford_ppm",
            F.expr(
                "CAST(n_orders * 1000000 div t - benford_ppm AS BIGINT)"
            ).alias("delta_ppm"),
        )
    )


@query(
    "revenue_gini",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CAST(TRUNC(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
      FROM per_cust
    )
    SELECT COUNT(*) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_revenue_cents,
           CAST((2 * SUM(CAST(i AS HUGEINT) * cents)
                 - (COUNT(*) + 1) * CAST(SUM(cents) AS HUGEINT))
                * 1000000 // (COUNT(*) * CAST(SUM(cents) AS HUGEINT))
             AS BIGINT) AS gini_micro
    FROM ranked
    """,
    tags=("quality", "monitoring", "orderstats"),
    doc="Gini coefficient of revenue concentration across customers - "
    "the one-number skew monitor (0 = uniform, ->1 = one whale): "
    "G = (2*sum(i*x_i) - (n+1)*sum(x))/(n*sum(x)) over ascending-"
    "ranked per-customer revenue, custkey tiebreak so the rank (and "
    "hence the statistic) is deterministic. The same number read two "
    "ways: business concentration risk, and JOIN-KEY skew in the "
    "exact form the salting/AQE decision needs. All integer: order "
    "cents from one IEEE multiply + trunc, rank-weighted sums in "
    "HUGEINT/decimal, micro-units by truncating division. Shape: one "
    "customer aggregate (map-side combined), one DISTRIBUTED rank "
    "over the |customers|-row aggregate (functions/topk.global_rank: "
    "range-partition + partitioned row_number + per-partition "
    "offsets - no single-task window), one final fold to a single "
    "row.",
)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.topk import global_rank

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(o_totalprice * 100 AS BIGINT)")).alias("cents")
    )
    run, _, _ = global_rank(
        per_cust.select("cents", "o_custkey"),
        [F.asc("cents"), F.asc("o_custkey")],
        rank_col="i",
    )
    ranked = run.select("cents", "i")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("long").alias("total_revenue_cents"),
        F.expr(
            "CAST((2 * sum(CAST(i AS DECIMAL(38,0)) * cents)"
            " - (count(1) + 1) * CAST(sum(cents) AS DECIMAL(38,0)))"
            " * 1000000 div (count(1) * CAST(sum(cents) AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("gini_micro"),
    )


KANON_K = 5  # minimum safe group size
KANON_BAND = 100000  # acctbal generalization band: 1000 currency units in cents


@query(
    "k_anonymity_audit",
    f"""
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(TRUNC(c_acctbal * 100) AS BIGINT) // {KANON_BAND} AS bal_band
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS grp_n
      FROM q GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN grp_n < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_k,
           CAST(SUM(grp_n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN grp_n < {KANON_K} THEN grp_n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(SUM(CASE WHEN grp_n < {KANON_K} THEN grp_n ELSE 0 END) * 1000000
                // SUM(grp_n) AS BIGINT) AS risk_ppm,
           CAST(MIN(grp_n) AS BIGINT) AS min_group_size
    FROM g
    """,
    tags=("quality", "privacy", "monitoring"),
    doc=f"k-anonymity audit of the customer table under the quasi-"
    f"identifier (nation, market segment, account-balance band of "
    f"1000 units): how many equivalence classes fall below k={KANON_K} "
    f"members and what fraction of rows they re-identify - the "
    f"release-gate check before customer-derived features join a "
    f"training set (a row alone in its quasi-identifier cell is "
    f"linkable even with direct identifiers dropped). The "
    f"generalization banding is integer-side (cents div {KANON_BAND}, "
    f"trunc before div - convention-free both engines). One "
    f"quasi-id groupBy (map-side combined) + one constant-row fold; "
    f"the audit output is a single row at any scale.",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        "c_nationkey",
        "c_mktsegment",
        # Spark CAST(double AS BIGINT) truncates (DuckDB's rounds, hence
        # the TRUNC in the oracle); trunc() in Spark SQL is date-only.
        F.expr(f"CAST(c_acctbal * 100 AS BIGINT) div {KANON_BAND}").alias("bal_band"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("grp_n")
    )
    below = F.sum(F.when(F.col("grp_n") < KANON_K, 1).otherwise(0))
    risk_rows = F.sum(F.when(F.col("grp_n") < KANON_K, F.col("grp_n")).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        below.cast("long").alias("n_groups_below_k"),
        F.sum("grp_n").cast("long").alias("n_rows"),
        risk_rows.cast("long").alias("n_rows_at_risk"),
        F.expr(
            f"CAST(SUM(CASE WHEN grp_n < {KANON_K} THEN grp_n ELSE 0 END) * 1000000"
            f" div SUM(grp_n) AS BIGINT)"
        ).alias("risk_ppm"),
        F.min("grp_n").cast("long").alias("min_group_size"),
    )


PARETO_PCT = 80  # revenue threshold
PARETO_TOP = 10  # "top X% of customers" report


@query(
    "pareto_revenue_concentration",
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CAST(TRUNC(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rk,
             SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM per_cust
    ),
    tot AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS HUGEINT) AS total
            FROM per_cust)
    SELECT CAST(t.n AS BIGINT) AS n_customers,
           CAST(1 + COUNT(*) FILTER (
                  WHERE CAST(r.cum AS HUGEINT) * 100 < t.total * {PARETO_PCT})
             AS BIGINT) AS n_for_{PARETO_PCT}pct,
           CAST((1 + COUNT(*) FILTER (
                  WHERE CAST(r.cum AS HUGEINT) * 100 < t.total * {PARETO_PCT}))
                * 1000000 // t.n AS BIGINT) AS share_of_customers_micro,
           CAST(SUM(CASE WHEN r.rk <= t.n * {PARETO_TOP} // 100 THEN r.cents
                         ELSE 0 END) * 1000000 // t.total AS BIGINT)
             AS top{PARETO_TOP}pct_revenue_share_micro
    FROM ranked r, tot t
    GROUP BY t.n, t.total
    """,
    tags=("quality", "monitoring", "orderstats"),
    doc=f"Pareto concentration, both directions: the smallest customer "
    f"count whose descending-ranked revenue reaches {PARETO_PCT}% of "
    f"the total (the literal 80/20 number), and the revenue share "
    f"held by the top {PARETO_TOP}% of customers - the two numbers "
    f"that, with revenue_gini, decide whether a join key needs skew "
    f"handling and whether a business depends on whales. All "
    f"threshold tests are integer cross-multiplications (cum*100 vs "
    f"total*{PARETO_PCT}) - no division until the final micro-unit "
    f"ratios, so the counts are bit-stable with the custkey tiebreak. "
    f"Shape: one customer aggregate, one DISTRIBUTED rank+prefix sum "
    f"over the |customers|-row table (functions/topk.global_rank: "
    f"range-partition + partitioned window + per-partition offsets - "
    f"no single-task window), totals embedded as literals from the "
    f"offset pass (no broadcast join needed), one fold.",
)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.topk import global_rank

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(o_totalprice * 100 AS BIGINT)")).alias("cents")
    )
    run, n, sums = global_rank(
        per_cust.select("cents", "o_custkey"),
        [F.desc("cents"), F.asc("o_custkey")],
        rank_col="rk",
        cumsum={"cum": "cents"},
    )
    flagged = run.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(str(sums["cum"])).cast("decimal(38,0)").alias("total"),
        "cents",
        "rk",
        "cum",
    ).select(
        "n",
        "total",
        F.expr(
            f"CASE WHEN CAST(cum AS DECIMAL(38,0)) * 100 < total * {PARETO_PCT}"
            f" THEN 1 ELSE 0 END"
        ).alias("below"),
        F.expr(
            f"CASE WHEN rk <= n * {PARETO_TOP} div 100 THEN cents ELSE 0 END"
        ).alias("top_cents"),
    )
    return flagged.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.expr(f"CAST(1 + SUM(below) AS BIGINT)").alias(f"n_for_{PARETO_PCT}pct"),
        F.expr(
            "CAST((1 + SUM(below)) * 1000000 div MAX(n) AS BIGINT)"
        ).alias("share_of_customers_micro"),
        F.expr(
            "CAST(SUM(top_cents) * 1000000 div MAX(total) AS BIGINT)"
        ).alias(f"top{PARETO_TOP}pct_revenue_share_micro"),
    )


@query(
    "dq_doc_embedding_coverage",
    """
    WITH j AS (
      SELECT d.source, d.doc_id, e.vec_id
      FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT COALESCE(source, '__no_doc__') AS source,
           CAST(COUNT(doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                      THEN 1 END) AS BIGINT) AS n_embedded,
           CAST(COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS BIGINT)
             AS n_orphan_vecs,
           CAST(CASE WHEN COUNT(doc_id) > 0
                THEN COUNT(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                           THEN 1 END) * 1000000 // COUNT(doc_id)
                ELSE 0 END AS BIGINT) AS coverage_ppm
    FROM j
    GROUP BY COALESCE(source, '__no_doc__')
    """,
    tags=("quality", "similarity", "monitoring"),
    doc="Referential-integrity audit between the documents and "
    "embeddings tables (doc_id <-> vec_id): per-source embedding "
    "coverage plus orphan vectors (embeddings whose document is gone — "
    "the stale-index signal after a dedup purge; they surface under "
    "the __no_doc__ source). The number a retrieval pipeline checks "
    "before trusting ANN results to cover the corpus. One full-outer "
    "join on the id (co-partitionable at scale: both sides hash on the "
    "same key) + one keyed rollup; no payload columns move, only ids "
    "and source.",
)
def dq_doc_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = docs.join(vecs, docs.doc_id == vecs.vec_id, "full_outer")
    matched = F.count(
        F.when(F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull(), 1)
    )
    n_docs = F.count("doc_id")
    return (
        j.groupBy(F.coalesce("source", F.lit("__no_doc__")).alias("source"))
        .agg(
            n_docs.cast("long").alias("n_docs"),
            matched.cast("long").alias("n_embedded"),
            F.count(F.when(F.col("doc_id").isNull(), 1))
            .cast("long")
            .alias("n_orphan_vecs"),
            F.when(
                n_docs > 0,
                F.floor((matched * F.lit(1_000_000)) / n_docs),
            )
            .otherwise(0)
            .cast("long")
            .alias("coverage_ppm"),
        )
    )


@query(
    "priority_mix_drift_chi2",
    """
    WITH cells AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority AS pr,
             COUNT(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    yt AS (SELECT yr, SUM(o) AS ny FROM cells GROUP BY yr),
    pt AS (SELECT pr, SUM(o) AS cp FROM cells GROUP BY pr),
    n AS (SELECT CAST(SUM(o) AS HUGEINT) AS n FROM cells),
    grid AS (
      SELECT yt.yr, pt.pr, yt.ny, pt.cp, COALESCE(x.o, 0) AS o
      FROM yt CROSS JOIN pt
      LEFT JOIN cells x ON x.yr = yt.yr AND x.pr = pt.pr
    ),
    terms AS (
      SELECT yr, pr, ny,
             (CAST(o AS HUGEINT) * (SELECT n FROM n)
              - CAST(ny AS HUGEINT) * cp)
             * (CAST(o AS HUGEINT) * (SELECT n FROM n)
                - CAST(ny AS HUGEINT) * cp)
             * 1000000
             // (CAST(ny AS HUGEINT) * cp) // (SELECT n FROM n) AS t
      FROM grid
    )
    SELECT yr,
           CAST(MAX(ny) AS BIGINT) AS n_orders,
           CAST(SUM(t) AS BIGINT) AS chi2_micro,
           MIN(CASE WHEN (t, pr) = (SELECT (t2.t, t2.pr) FROM terms t2
                                    WHERE t2.yr = terms.yr
                                    ORDER BY t2.t DESC, t2.pr LIMIT 1)
                    THEN pr END) AS top_drifted_priority
    FROM terms
    GROUP BY yr
    """,
    tags=("quality", "monitoring", "timeseries"),
    doc="Per-year order-priority mix drift vs the pooled distribution — "
    "the time-sliced DQ drift monitor (split_source_balance_chi2 tests "
    "a 2-way independence once; this answers WHICH period shifted and "
    "in WHICH category): for each year, the chi-square distance of its "
    "priority mix from the all-years mix in integer micro-units (the "
    "cross-multiplied (o*N - ny*cp)^2 recipe, per-cell truncating "
    "division mirrored on both engines), plus the category carrying "
    "the largest term (deterministic tiebreak). An upstream intake "
    "change (new priority default, a dropped channel) lights up its "
    "year. Shape: one (year,priority) count; everything after is a "
    "|years|x|priorities| grid.",
)
def priority_mix_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.col("o_orderpriority").alias("pr"),
        )
        .groupBy("yr", "pr")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    yt = cells.groupBy("yr").agg(F.sum("o").alias("ny"))
    pt = cells.groupBy("pr").agg(F.sum("o").alias("cp"))
    n = cells.agg(F.sum("o").cast("decimal(38,0)").alias("n"))
    grid = (
        yt.crossJoin(F.broadcast(pt))
        .join(cells, ["yr", "pr"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
        .crossJoin(F.broadcast(n))
    )
    terms = grid.select(
        "yr",
        "pr",
        "ny",
        F.expr(
            "(CAST(o AS DECIMAL(38,0)) * n - CAST(ny AS DECIMAL(38,0)) * cp)"
            " * (CAST(o AS DECIMAL(38,0)) * n - CAST(ny AS DECIMAL(38,0)) * cp)"
            " * 1000000"
            " div (CAST(ny AS DECIMAL(38,0)) * cp) div n"
        ).alias("t"),
    )
    wtop = W.partitionBy("yr").orderBy(F.desc("t"), F.asc("pr"))
    ranked = terms.withColumn("rk", F.row_number().over(wtop))
    return ranked.groupBy("yr").agg(
        F.max("ny").cast("long").alias("n_orders"),
        F.sum("t").cast("long").alias("chi2_micro"),
        F.min(F.when(F.col("rk") == 1, F.col("pr"))).alias(
            "top_drifted_priority"
        ),
    )


LDIV_L = 3  # each quasi-id group must span >= 3 distinct sensitive values


@query(
    "l_diversity_audit",
    f"""
    WITH rel AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             CAST(TRUNC(c.c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             o.o_orderpriority AS sens
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             COUNT(*) AS grp_n, COUNT(DISTINCT sens) AS n_sens
      FROM rel GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN n_sens < {LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_l,
           CAST(SUM(grp_n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN n_sens < {LDIV_L} THEN grp_n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(SUM(CASE WHEN n_sens < {LDIV_L} THEN grp_n ELSE 0 END) * 1000000
                // SUM(grp_n) AS BIGINT) AS risk_ppm,
           CAST(MIN(n_sens) AS BIGINT) AS min_diversity
    FROM g
    """,
    tags=("quality", "privacy", "monitoring"),
    doc=f"l-diversity audit — k-anonymity's companion gate: a released "
    f"row set (orders carrying the customer quasi-identifier nation x "
    f"market segment x balance band; sensitive attribute = order priority) is safe "
    f"only if every quasi-id equivalence class spans >= l={LDIV_L} "
    f"DISTINCT sensitive values; a class that is large (k-anonymous) "
    f"but priority-homogeneous still leaks the sensitive value of "
    f"every member. Reports group/row exposure in exact ppm plus the "
    f"worst class's diversity. Shape: one fact-dim equi-join "
    f"(AQE-planned), one quasi-id groupBy with a distinct agg "
    f"(map-side partials), one constant-row fold — single-row output "
    f"at any scale.",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rel = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(f"CAST(c_acctbal * 100 AS BIGINT) div {KANON_BAND}").alias("bal_band"),
        F.col("o_orderpriority").alias("sens"),
    )
    g = rel.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("grp_n"),
        F.countDistinct("sens").alias("n_sens"),
    )
    risk_rows = F.sum(F.when(F.col("n_sens") < LDIV_L, F.col("grp_n")).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n_sens") < LDIV_L, 1).otherwise(0))
        .cast("long")
        .alias("n_groups_below_l"),
        F.sum("grp_n").cast("long").alias("n_rows"),
        risk_rows.cast("long").alias("n_rows_at_risk"),
        F.expr(
            f"CAST(SUM(CASE WHEN n_sens < {LDIV_L} THEN grp_n ELSE 0 END) * 1000000"
            f" div SUM(grp_n) AS BIGINT)"
        ).alias("risk_ppm"),
        F.min("n_sens").cast("long").alias("min_diversity"),
    )
