"""Driver-contract queries: every operator family exposed as a
(spark, sf_dir) -> DataFrame callable plus an equivalent DuckDB oracle
SQL string.

Determinism rules (so Spark and DuckDB value-hashes match):
- money/double sums go through DECIMAL(25,4) (exact, order-independent
  in both engines) and are cast back to double at the end;
- pure-double aggregates (avg/stddev/corr/entropy) are rounded to 6
  decimals (both engines round half-away-from-zero for positives);
- counts/ratios of counts are exact;
- DuckDB SUM/product of integers returns HUGEINT (int128), which
  pandas/Arrow render as float64 and break the value hash against
  Spark's bigint — ALWAYS CAST(SUM(int_col) AS BIGINT) in oracle SQL
  (COUNT is already BIGINT and safe);
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from .session import local_df, scratch_dir
from pyspark.sql import DataFrame, SparkSession

from .functions import epoch_seconds
from .sources import load_tpch_tables

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _t(spark: SparkSession, sf_dir: str, *names):
    tables = load_tpch_tables(spark, sf_dir, names)
    return [tables[n] for n in names]


def r6(col):
    return F.round(col, 6)


# ---------------------------------------------------------------------------
# scan / scalar-aggregate family
# ---------------------------------------------------------------------------

def q_size_lineitem(spark, sf_dir) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


SQL_SIZE_LINEITEM = "SELECT COUNT(*) AS n_rows FROM lineitem"


def q_completeness_customer(spark, sf_dir) -> DataFrame:
    (c,) = _t(spark, sf_dir, "customer")
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_name").alias("nn_name"),
        F.count("c_acctbal").alias("nn_acctbal"),
        r6(F.count("c_name") / F.count(F.lit(1))).alias("completeness_name"),
        r6(F.count("c_acctbal") / F.count(F.lit(1))).alias("completeness_acctbal"),
    )


SQL_COMPLETENESS_CUSTOMER = """
SELECT COUNT(*) AS n_rows,
       COUNT(c_name) AS nn_name,
       COUNT(c_acctbal) AS nn_acctbal,
       ROUND(COUNT(c_name) * 1.0 / COUNT(*), 6) AS completeness_name,
       ROUND(COUNT(c_acctbal) * 1.0 / COUNT(*), 6) AS completeness_acctbal
FROM customer
"""


def q_stats_quantity(spark, sf_dir) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.agg(
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
        F.sum(q).alias("sum_qty"),             # integral doubles — exact
        r6(F.avg(q)).alias("avg_qty"),
        r6(F.stddev_samp(q)).alias("stddev_qty"),
        r6(F.var_samp(q)).alias("var_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(25,4)"))
         .cast("double").alias("sum_price"),
    )


SQL_STATS_QUANTITY = """
SELECT MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       SUM(l_quantity) AS sum_qty,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(STDDEV_SAMP(l_quantity), 6) AS stddev_qty,
       ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_price
FROM lineitem
"""


def q_distinctness_orders(spark, sf_dir) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("o_custkey")).alias("distinct_custkey"),
        r6(F.count_distinct(F.col("o_custkey")) / F.count(F.lit(1))).alias("distinctness"),
    )


SQL_DISTINCTNESS_ORDERS = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT o_custkey) AS distinct_custkey,
       ROUND(COUNT(DISTINCT o_custkey) * 1.0 / COUNT(*), 6) AS distinctness
FROM orders
"""


def q_unique_value_ratio_custkey(spark, sf_dir) -> DataFrame:
    """Rows whose o_custkey occurs exactly once / total rows
    (uniqueness.rs:660-684 value_counts CTE)."""
    (o,) = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.coalesce(F.sum(F.when(F.col("cnt") == 1, F.col("cnt"))), F.lit(0)).alias("unique_rows"),
        F.count(F.lit(1)).alias("distinct_values"),
        F.sum("cnt").alias("total_rows"),
        r6(F.coalesce(F.sum(F.when(F.col("cnt") == 1, F.col("cnt"))), F.lit(0))
           / F.sum("cnt")).alias("unique_value_ratio"),
    )


SQL_UNIQUE_VALUE_RATIO_CUSTKEY = """
WITH value_counts AS (
    SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
)
SELECT CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS unique_rows,
       COUNT(*) AS distinct_values,
       CAST(SUM(cnt) AS BIGINT) AS total_rows,
       ROUND(CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN cnt ELSE 0 END), 0) AS DOUBLE)
             / CAST(SUM(cnt) AS DOUBLE), 6) AS unique_value_ratio
FROM value_counts
"""


def q_compliance_discount(spark, sf_dir) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    pred = F.col("l_discount").between(0.0, 0.1)
    return li.agg(
        F.count(F.when(pred, 1)).alias("hits"),
        F.count(F.lit(1)).alias("total"),
        r6(F.count(F.when(pred, 1)) / F.count(F.lit(1))).alias("compliance"),
    )


SQL_COMPLIANCE_DISCOUNT = """
SELECT COUNT(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 END) AS hits,
       COUNT(*) AS total,
       ROUND(COUNT(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 END) * 1.0
             / COUNT(*), 6) AS compliance
FROM lineitem
"""


def q_containment_orderstatus(spark, sf_dir) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    pred = F.col("o_orderstatus").isin("O", "F", "P")
    return o.agg(
        F.count(F.when(pred, 1)).alias("hits"),
        F.count(F.lit(1)).alias("total"),
        r6(F.count(F.when(pred, 1)) / F.count(F.lit(1))).alias("containment"),
    )


SQL_CONTAINMENT_ORDERSTATUS = """
SELECT COUNT(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END) AS hits,
       COUNT(*) AS total,
       ROUND(COUNT(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END) * 1.0
             / COUNT(*), 6) AS containment
FROM orders
"""


def q_format_orderpriority(spark, sf_dir) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    pat = "^[1-5]-[A-Z ]+$"
    pred = F.col("o_orderpriority").rlike(pat)
    return o.agg(
        F.count(F.when(pred, 1)).alias("matches"),
        F.count(F.lit(1)).alias("total"),
        r6(F.count(F.when(pred, 1)) / F.count(F.lit(1))).alias("match_ratio"),
    )


SQL_FORMAT_ORDERPRIORITY = r"""
SELECT COUNT(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                  THEN 1 END) AS matches,
       COUNT(*) AS total,
       ROUND(COUNT(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                        THEN 1 END) * 1.0 / COUNT(*), 6) AS match_ratio
FROM orders
"""


def q_length_customer_name(spark, sf_dir) -> DataFrame:
    (c,) = _t(spark, sf_dir, "customer")
    ln = F.char_length(F.col("c_name"))
    cond = ln.between(10, 25) | F.col("c_name").isNull()  # NULL valid (length.rs:167-171)
    return c.agg(
        F.count(F.when(cond, 1)).alias("valid"),
        F.count(F.lit(1)).alias("total"),
        r6(F.count(F.when(cond, 1)) / F.count(F.lit(1))).alias("valid_ratio"),
    )


SQL_LENGTH_CUSTOMER_NAME = """
SELECT COUNT(CASE WHEN LENGTH(c_name) BETWEEN 10 AND 25 OR c_name IS NULL
                  THEN 1 END) AS valid,
       COUNT(*) AS total,
       ROUND(COUNT(CASE WHEN LENGTH(c_name) BETWEEN 10 AND 25 OR c_name IS NULL
                        THEN 1 END) * 1.0 / COUNT(*), 6) AS valid_ratio
FROM customer
"""


def q_datatype_detection(spark, sf_dir) -> DataFrame:
    """Regex CASE type classification (consistency.rs:66-87) over a
    string rendering of documents.n_chars + the lang column."""
    (d,) = _t(spark, sf_dir, "documents")
    from .operators.datatype import classify_expr
    d2 = d.select(F.col("n_chars").cast("string").alias("v")).union(
        d.select(F.col("lang").alias("v")))
    # NULLs are excluded on both engines (the oracle filters v IS NOT
    # NULL; classify_expr also maps NULL → NULL rather than 'text').
    df = (d2.filter(F.col("v").isNotNull())
            .select(classify_expr("v").alias("detected_type")))
    return (df.groupBy("detected_type").agg(F.count(F.lit(1)).alias("cnt"))
              .orderBy(F.desc("cnt"), F.asc("detected_type")))


SQL_DATATYPE_DETECTION = r"""
WITH vals AS (
    SELECT CAST(n_chars AS VARCHAR) AS v FROM documents
    UNION ALL
    SELECT lang AS v FROM documents
), classified AS (
    SELECT CASE
        WHEN regexp_matches(v, '^[+-]?\d+$') THEN 'integer'
        WHEN regexp_matches(v, '^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$') THEN 'float'
        WHEN regexp_matches(v, '^(true|false|TRUE|FALSE|True|False|0|1|yes|no|YES|NO)$') THEN 'boolean'
        WHEN regexp_matches(v, '^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}(:\d{2})?(\.\d+)?([Zz]|[+-]\d{2}:?\d{2})?$') THEN 'datetime'
        WHEN regexp_matches(v, '^\d{4}-\d{2}-\d{2}$') THEN 'date'
        WHEN regexp_matches(v, '^\d{2}:\d{2}(:\d{2})?(\.\d+)?$') THEN 'time'
        ELSE 'text' END AS detected_type
    FROM vals WHERE v IS NOT NULL
)
SELECT detected_type, COUNT(*) AS cnt FROM classified
GROUP BY detected_type ORDER BY cnt DESC, detected_type ASC
"""


# ---------------------------------------------------------------------------
# groupBy-shaped family
# ---------------------------------------------------------------------------

def q_histogram_returnflag(spark, sf_dir) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_returnflag").alias("value")) \
          .agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window
    return (g.withColumn("ratio", r6(F.col("cnt") /
                                     F.sum("cnt").over(Window.partitionBy())))
             .orderBy(F.desc("cnt"), F.asc("value")))


SQL_HISTOGRAM_RETURNFLAG = """
SELECT l_returnflag AS value, COUNT(*) AS cnt,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS ratio
FROM lineitem GROUP BY l_returnflag ORDER BY cnt DESC, value ASC
"""


def q_entropy_returnflag(spark, sf_dir) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    counts = (li.filter(F.col("l_returnflag").isNotNull())
                .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt")))
    return counts.agg(
        r6(F.log(F.sum("cnt")) -
           F.sum(F.col("cnt") * F.log(F.col("cnt"))) / F.sum("cnt")).alias("entropy"))


SQL_ENTROPY_RETURNFLAG = """
WITH counts AS (
    SELECT COUNT(*) AS cnt FROM lineitem
    WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag
)
SELECT ROUND(LN(SUM(cnt)) - SUM(cnt * LN(cnt)) / SUM(cnt), 6) AS entropy
FROM counts
"""


def q_grouped_completeness_events(spark, sf_dir) -> DataFrame:
    (e,) = _t(spark, sf_dir, "events")
    return (e.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("total_count"),
                  F.count("value").alias("non_null_count"),
                  r6(F.count("value") / F.count(F.lit(1))).alias("completeness"))
             .orderBy("event_type"))


SQL_GROUPED_COMPLETENESS_EVENTS = """
SELECT event_type, COUNT(*) AS total_count, COUNT(value) AS non_null_count,
       ROUND(COUNT(value) * 1.0 / COUNT(*), 6) AS completeness
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_mutual_information_lineitem(spark, sf_dir) -> DataFrame:
    """MI between the two low-cardinality lineitem flags (categorical
    passthrough binning, mutual_information.rs:236-260)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    from .operators.entropy import mutual_information_value
    mi = mutual_information_value(li, "l_returnflag", "l_linestatus")
    return local_df(spark, [(round(mi, 6),)], "mi double")


SQL_MUTUAL_INFORMATION_LINEITEM = """
WITH joint AS (
    SELECT l_returnflag AS bx, l_linestatus AS by, COUNT(*) AS nxy
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
    GROUP BY 1, 2
), enriched AS (
    SELECT nxy,
           SUM(nxy) OVER () AS n,
           SUM(nxy) OVER (PARTITION BY bx) AS nx,
           SUM(nxy) OVER (PARTITION BY by) AS ny
    FROM joint
)
SELECT ROUND(SUM((nxy * 1.0 / n) * LN((nxy * 1.0 * n) / (nx * 1.0 * ny))), 6) AS mi
FROM enriched
"""


def q_spearman_quantity_price(spark, sf_dir) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    from .operators.entropy import spearman_value
    rho = spearman_value(li, "l_quantity", "l_extendedprice")
    return local_df(spark, [(round(rho, 6),)], "spearman double")


SQL_SPEARMAN_QUANTITY_PRICE = """
WITH ranked AS (
    SELECT RANK() OVER (ORDER BY l_quantity) AS rx,
           RANK() OVER (ORDER BY l_extendedprice) AS ry
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
)
SELECT ROUND(CORR(rx, ry), 6) AS spearman FROM ranked
"""


def q_corr_quantity_price(spark, sf_dir) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.agg(
        r6(F.corr("l_quantity", "l_extendedprice")).alias("pearson"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covariance"),
    )


SQL_CORR_QUANTITY_PRICE = """
SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) AS pearson,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covariance
FROM lineitem
"""


# ---------------------------------------------------------------------------
# join-shaped family
# ---------------------------------------------------------------------------

def q_fk_orders_customer(spark, sf_dir) -> DataFrame:
    o, c = _t(spark, sf_dir, "orders", "customer")
    keys = o.select("o_custkey").filter(F.col("o_custkey").isNotNull())
    orphans = keys.join(c.select("c_custkey").distinct(),
                        keys["o_custkey"] == F.col("c_custkey"), "left_anti")
    return orphans.agg(
        F.count(F.lit(1)).alias("orphan_rows"),
        F.count_distinct(F.col("o_custkey")).alias("orphan_keys"))


SQL_FK_ORDERS_CUSTOMER = """
SELECT COUNT(*) AS orphan_rows,
       COUNT(DISTINCT o.o_custkey) AS orphan_keys
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
"""


def q_join_coverage_lineitem_orders(spark, sf_dir) -> DataFrame:
    """Single-plan coverage: one LEFT JOIN + one agg (no driver-side
    count round-trips), mirroring JoinCoverageConstraint._match_rate."""
    li, o = _t(spark, sf_dir, "lineitem", "orders")
    j = li.select("l_orderkey").join(
        o.select("o_orderkey").distinct(),
        F.col("l_orderkey") == F.col("o_orderkey"), "left")
    return j.agg(
        F.count("o_orderkey").alias("matched"),
        F.count(F.lit(1)).alias("total"),
        r6(F.count("o_orderkey") / F.count(F.lit(1))).alias("coverage"))


SQL_JOIN_COVERAGE_LINEITEM_ORDERS = """
SELECT COUNT(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 END) AS matched,
       COUNT(*) AS total,
       ROUND(COUNT(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 END) * 1.0
             / COUNT(*), 6) AS coverage
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
"""


def q_cross_table_sum_orders_lineitem(spark, sf_dir) -> DataFrame:
    """Grouped sum reconciliation (cross_table_sum.rs:252-279): per
    order, o_totalprice vs Σ l_extendedprice·(1−disc)·(1+tax); exact
    decimal arithmetic (scale 6: the 3-factor charge product carries
    up to 6 decimal digits, so the cast never rounds) keeps violation
    counts deterministic."""
    o, li = _t(spark, sf_dir, "orders", "lineitem")
    # One shuffle, no join: tag each side's rows with its value in its
    # own column, union, and let ONE groupBy(grp) produce both sums.
    # The previous shape (groupBy each side, full-outer join the two
    # per-group aggregates) shuffles comparable volume but then SORTS
    # both 15M-group sides for the merge join — two extra stages and
    # two spill surfaces that this plan simply doesn't have. Local
    # sf10 A/B (scripts/ab_cross_table_sum.py, deleted; read it with
    # `git show d5a071c:scripts/ab_cross_table_sum.py`) reads
    # parity-to-modest-gain (both exchange-bound on one node); the
    # win is structural: fewest stages, zero sorts, one failure/skew
    # domain. Missing sides fall out as NULL sums -> COALESCE 0,
    # preserving full-outer semantics exactly.
    dec = "decimal(25,6)"
    charge = (F.col("l_extendedprice") * (1 - F.col("l_discount")) *
              (1 + F.col("l_tax"))).cast(dec)
    # r15 (guide §2.3, shuffle fewer bytes): every output column depends
    # only on the per-group SIGNED difference — COALESCE(Σlv,0) −
    # COALESCE(Σrv,0) ≡ Σ(signed contribution) exactly (decimal
    # arithmetic is order-independent), so the union carries ONE
    # decimal column (orders contribute +o_totalprice, lineitem
    # −charge) instead of two half-NULL ones.  Decimal(25,6) fields
    # occupy their fixed width even when NULL in unsafe rows, so this
    # halves the shuffled value bytes of the query's only exchange.
    # Full-outer semantics preserved: a group present on one side only
    # sums just that side's contributions, which equals the old
    # COALESCE(missing, 0) arm.  Violation/max_diff read |diff|.
    tagged = (o.select(F.col("o_orderkey").alias("grp"),
                       F.col("o_totalprice").cast(dec).alias("v"))
              .unionByName(li.select(F.col("l_orderkey").alias("grp"),
                                     (-charge).cast(dec).alias("v"))))
    joined = tagged.groupBy("grp").agg(F.sum("v").alias("d"))
    diff = F.abs(F.col("d"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(diff > 1.0, 1)).alias("violations"),
        F.max(diff).cast("double").alias("max_diff"))


SQL_CROSS_TABLE_SUM_ORDERS_LINEITEM = """
WITH l AS (
    SELECT o_orderkey AS grp,
           SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS left_sum
    FROM orders GROUP BY 1
), r AS (
    SELECT l_orderkey AS grp,
           SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                    AS DECIMAL(25,6))) AS right_sum
    FROM lineitem GROUP BY 1
), j AS (
    SELECT COALESCE(left_sum, 0) AS lv, COALESCE(right_sum, 0) AS rv
    FROM l FULL OUTER JOIN r USING (grp)
)
SELECT COUNT(*) AS n_groups,
       COUNT(CASE WHEN ABS(lv - rv) > 1.0 THEN 1 END) AS violations,
       CAST(MAX(ABS(lv - rv)) AS DOUBLE) AS max_diff
FROM j
"""


# ---------------------------------------------------------------------------
# temporal family
# ---------------------------------------------------------------------------

def q_temporal_ordering_orders_lineitem(spark, sf_dir) -> DataFrame:
    """Cross-table BeforeAfter: order date must precede ship date."""
    o, li = _t(spark, sf_dir, "orders", "lineitem")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"], "inner")
    ok = F.col("l_shipdate") >= F.col("o_orderdate")
    return j.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(~ok, 1)).alias("violations"))


SQL_TEMPORAL_ORDERING_ORDERS_LINEITEM = """
SELECT COUNT(*) AS total_rows,
       COUNT(CASE WHEN NOT (l.l_shipdate >= o.o_orderdate) THEN 1 END) AS violations
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def q_business_hours_events(spark, sf_dir) -> DataFrame:
    (e,) = _t(spark, sf_dir, "events")
    ts = F.col("ts")
    secs = F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)
    in_hours = secs.between(9 * 3600, 17 * 3600)
    weekday = F.dayofweek(ts).between(2, 6)  # Mon..Fri
    scoped = e.filter(ts.isNotNull() & weekday)
    return scoped.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(~in_hours, 1)).alias("violations"),
        r6(F.count(F.when(~in_hours, 1)) / F.count(F.lit(1))).alias("violation_ratio"))


SQL_BUSINESS_HOURS_EVENTS = """
WITH scoped AS (
    SELECT ts,
           EXTRACT(HOUR FROM ts) * 3600 + EXTRACT(MINUTE FROM ts) * 60
           + FLOOR(EXTRACT(SECOND FROM ts)) AS secs
    FROM events
    WHERE ts IS NOT NULL AND EXTRACT(DOW FROM ts) BETWEEN 1 AND 5
)
SELECT COUNT(*) AS total_rows,
       COUNT(CASE WHEN NOT (secs BETWEEN 32400 AND 61200) THEN 1 END) AS violations,
       ROUND(COUNT(CASE WHEN NOT (secs BETWEEN 32400 AND 61200) THEN 1 END) * 1.0
             / COUNT(*), 6) AS violation_ratio
FROM scoped
"""


def q_date_range_orders(spark, sf_dir) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    ts = F.col("o_orderdate")
    in_range = (ts >= F.lit("1995-01-01").cast("timestamp")) & \
               (ts <= F.lit("2000-12-31").cast("timestamp"))
    return o.agg(
        F.count(ts).alias("total_rows"),
        F.count(F.when(ts.isNotNull() & ~in_range, 1)).alias("violations"))


SQL_DATE_RANGE_ORDERS = """
SELECT COUNT(o_orderdate) AS total_rows,
       COUNT(CASE WHEN o_orderdate IS NOT NULL AND NOT
             (o_orderdate >= TIMESTAMP '1995-01-01' AND
              o_orderdate <= TIMESTAMP '2000-12-31') THEN 1 END) AS violations
FROM orders
"""


def q_max_time_gap_events(spark, sf_dir) -> DataFrame:
    """LAG max-gap per user (temporal_ordering.rs:454-480)."""
    from pyspark.sql import Window
    (e,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    ts = epoch_seconds("ts")
    gaps = (e.filter(F.col("ts").isNotNull())
             .select((ts - F.lag(ts).over(w)).alias("gap")))
    return gaps.filter(F.col("gap").isNotNull()).agg(
        F.count(F.lit(1)).alias("total_gaps"),
        F.count(F.when(F.col("gap") > 3600 * 24, 1)).alias("violations"),
        r6(F.max("gap")).alias("max_gap_seconds"))


SQL_MAX_TIME_GAP_EVENTS = """
WITH gaps AS (
    SELECT EXTRACT(EPOCH FROM ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
           AS gap
    FROM events WHERE ts IS NOT NULL
)
SELECT COUNT(*) AS total_gaps,
       COUNT(CASE WHEN gap > 86400 THEN 1 END) AS violations,
       ROUND(MAX(gap), 6) AS max_gap_seconds
FROM gaps WHERE gap IS NOT NULL
"""


# ---------------------------------------------------------------------------
# flagship analytical rollup (TPC-H Q1 shape over the validation columns)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir) -> DataFrame:
    # 4 decimal(25,6) sums per row dominate: spread an under-partitioned
    # scan over every core (sf0.1 on 4 cores: 2.14 -> 1.71 s against a
    # round-robin repartition; A/B in plans/read_parquet/).
    from .operators.dedup import spread
    (li,) = _t(spark, sf_dir, "lineitem")
    li = spread(li, "l_orderkey")
    # Scale 6, not 4: price/discount/tax each carry 2 decimal digits, so the
    # 3-factor charge product has up to 6 — at scale 4 the cast would round
    # exact .00005 midpoints, where Spark (HALF_UP on the binary expansion)
    # and DuckDB (half-even on the shortest repr) disagree. At scale 6 the
    # cast is value-exact in both engines.
    dec = lambda c: c.cast("decimal(25,6)")
    disc_price = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")) *
                 (1 + F.col("l_tax")))
    # Determinism rule (module docstring): every float aggregate goes through
    # exact DECIMAL summation; averages are decimal-sum / count in DOUBLE so
    # Spark's parallel partial aggs and DuckDB agree bit-for-bit.
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
                 F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
                 F.sum(disc_price).cast("double").alias("sum_disc_price"),
                 F.sum(charge).cast("double").alias("sum_charge"),
                 r6(F.sum(dec(F.col("l_quantity"))).cast("double")
                    / F.count(F.lit(1))).alias("avg_qty"),
                 r6(F.sum(dec(F.col("l_discount"))).cast("double")
                    / F.count(F.lit(1))).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
           AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6)
           AS avg_qty,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6)
           AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "size_lineitem": q_size_lineitem,
    "completeness_customer": q_completeness_customer,
    "stats_quantity": q_stats_quantity,
    "distinctness_orders": q_distinctness_orders,
    "unique_value_ratio_custkey": q_unique_value_ratio_custkey,
    "compliance_discount": q_compliance_discount,
    "containment_orderstatus": q_containment_orderstatus,
    "format_orderpriority": q_format_orderpriority,
    "length_customer_name": q_length_customer_name,
    "datatype_detection": q_datatype_detection,
    "histogram_returnflag": q_histogram_returnflag,
    "entropy_returnflag": q_entropy_returnflag,
    "grouped_completeness_events": q_grouped_completeness_events,
    "mutual_information_lineitem": q_mutual_information_lineitem,
    "spearman_quantity_price": q_spearman_quantity_price,
    "corr_quantity_price": q_corr_quantity_price,
    "fk_orders_customer": q_fk_orders_customer,
    "join_coverage_lineitem_orders": q_join_coverage_lineitem_orders,
    "cross_table_sum_orders_lineitem": q_cross_table_sum_orders_lineitem,
    "temporal_ordering_orders_lineitem": q_temporal_ordering_orders_lineitem,
    "business_hours_events": q_business_hours_events,
    "date_range_orders": q_date_range_orders,
    "max_time_gap_events": q_max_time_gap_events,
    "pricing_summary": q_pricing_summary,
}

_BASE_ORACLES = {
    "size_lineitem": SQL_SIZE_LINEITEM,
    "completeness_customer": SQL_COMPLETENESS_CUSTOMER,
    "stats_quantity": SQL_STATS_QUANTITY,
    "distinctness_orders": SQL_DISTINCTNESS_ORDERS,
    "unique_value_ratio_custkey": SQL_UNIQUE_VALUE_RATIO_CUSTKEY,
    "compliance_discount": SQL_COMPLIANCE_DISCOUNT,
    "containment_orderstatus": SQL_CONTAINMENT_ORDERSTATUS,
    "format_orderpriority": SQL_FORMAT_ORDERPRIORITY,
    "length_customer_name": SQL_LENGTH_CUSTOMER_NAME,
    "datatype_detection": SQL_DATATYPE_DETECTION,
    "histogram_returnflag": SQL_HISTOGRAM_RETURNFLAG,
    "entropy_returnflag": SQL_ENTROPY_RETURNFLAG,
    "grouped_completeness_events": SQL_GROUPED_COMPLETENESS_EVENTS,
    "mutual_information_lineitem": SQL_MUTUAL_INFORMATION_LINEITEM,
    "spearman_quantity_price": SQL_SPEARMAN_QUANTITY_PRICE,
    "corr_quantity_price": SQL_CORR_QUANTITY_PRICE,
    "fk_orders_customer": SQL_FK_ORDERS_CUSTOMER,
    "join_coverage_lineitem_orders": SQL_JOIN_COVERAGE_LINEITEM_ORDERS,
    "cross_table_sum_orders_lineitem": SQL_CROSS_TABLE_SUM_ORDERS_LINEITEM,
    "temporal_ordering_orders_lineitem": SQL_TEMPORAL_ORDERING_ORDERS_LINEITEM,
    "business_hours_events": SQL_BUSINESS_HOURS_EVENTS,
    "date_range_orders": SQL_DATE_RANGE_ORDERS,
    "max_time_gap_events": SQL_MAX_TIME_GAP_EVENTS,
    "pricing_summary": SQL_PRICING_SUMMARY,
}

ORACLES = dict(_BASE_ORACLES)

# LLM-data operators (dedup / similarity / text analysis)
from .queries_llm import LLM_ORACLES, LLM_QUERIES  # noqa: E402

QUERIES.update(LLM_QUERIES)
ORACLES.update(LLM_ORACLES)


# ---------------------------------------------------------------------------
# additional coverage: exact quantiles, numeric histogram, profile,
# approx-distinct (rows-only check — approx values are engine-specific)
# ---------------------------------------------------------------------------

def q_quantile_exact_quantity(spark, sf_dir) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.agg(
        r6(F.percentile(q, 0.25)).alias("p25"),
        r6(F.percentile(q, 0.5)).alias("p50"),
        r6(F.percentile(q, 0.75)).alias("p75"),
        r6(F.percentile(q, 0.99)).alias("p99"),
    )


SQL_QUANTILE_EXACT_QUANTITY = """
SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
       ROUND(quantile_cont(l_quantity, 0.99), 6) AS p99
FROM lineitem
"""


def q_quantile_sketch_merge_quantity(spark, sf_dir) -> DataFrame:
    """Mergeable quantile sketch, made driver-oracle-checkable (the
    ``q_approx_distinct_orderkey`` pattern): the returned p25/p50/p75
    are the EXACT type-7 percentiles of l_quantity (``F.percentile``
    ≡ DuckDB ``quantile_cont`` — engine-portable), and
    ``merged_within_bound`` is a Spark-computed attestation of the
    incremental path: QuantileSketchAnalyzer states built on the two
    l_orderkey-parity shards, merged DRIVER-SIDE (the shard-wise
    scan-once contract), must place each read-off quantile within the
    documented normalized rank-error bound 2/k + 1/accuracy.  Ties
    (l_quantity has 50 distinct values) are handled the only sound
    way: the estimate's rank INTERVAL [frac(< v), frac(≤ v)], widened
    by the bound, must contain q."""
    from .analyzers.quantile_sketch import QuantileSketchAnalyzer

    (li,) = _t(spark, sf_dir, "lineitem")
    qcol = F.col("l_quantity")
    an = QuantileSketchAnalyzer("l_quantity", k=200, accuracy=10000)
    states = []
    for parity in (0, 1):
        shard = li.filter(F.col("l_orderkey") % 2 == parity)
        row = shard.agg(*[e.alias(a) for a, e in an.state_exprs().items()]
                        ).collect()[0]
        states.append(an.state_from_row(row))
    merged = an.merge_states(states)
    eps = an.merge_error_bound()
    probs = (0.25, 0.5, 0.75)
    ests = [an.quantile_from_state(merged, p) for p in probs]
    ranks = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(F.when(qcol < e, 1)).alias(f"lt_{i}")
          for i, e in enumerate(ests)],
        *[F.count(F.when(qcol <= e, 1)).alias(f"le_{i}")
          for i, e in enumerate(ests)]).collect()[0]
    n = float(ranks["n"])
    ok = all(
        ranks[f"lt_{i}"] / n - eps <= p <= ranks[f"le_{i}"] / n + eps
        for i, p in enumerate(probs))
    return li.agg(
        r6(F.percentile(qcol, 0.25)).alias("p25"),
        r6(F.percentile(qcol, 0.5)).alias("p50"),
        r6(F.percentile(qcol, 0.75)).alias("p75"),
        F.lit(bool(ok)).alias("merged_within_bound"))


SQL_QUANTILE_SKETCH_MERGE_QUANTITY = """
SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
       TRUE AS merged_within_bound
FROM lineitem
"""


def q_quantile_sketch_by_returnflag(spark, sf_dir) -> DataFrame:
    """Grouped mergeable quantile sketch, driver-oracle-checkable
    (round 11 — the grouped form of ``quantile_sketch_merge_quantity``,
    completing the mg_sketch/mg_sketch_by symmetry for the quantile
    family): per returnflag, TWO l_orderkey-parity shards each run ONE
    grouped state aggregation (``quantile_sketch_by``), the per-group
    states merge DRIVER-SIDE, and each group's read-off median must
    land within the documented 2/k + 1/accuracy rank bound of that
    group's own distribution — groups never interact, so the merge law
    applies group-wise.  The returned p50 is the EXACT per-group
    type-7 percentile (engine-portable); the attestation is pinned
    TRUE by the oracle.  Tie handling is the rank-interval form of the
    global query."""
    from .analyzers.quantile_sketch import (QuantileSketchAnalyzer,
                                            quantile_sketch_by)

    (li,) = _t(spark, sf_dir, "lineitem")
    qcol = F.col("l_quantity")
    an = QuantileSketchAnalyzer("l_quantity", k=200, accuracy=10000)
    shard_states = [
        quantile_sketch_by(li.filter(F.col("l_orderkey") % 2 == parity),
                           "l_returnflag", "l_quantity",
                           k=200, accuracy=10000)
        for parity in (0, 1)]
    groups = sorted(set(shard_states[0]) | set(shard_states[1]))
    merged = {g: an.merge_states([s[g] for s in shard_states if g in s])
              for g in groups}
    eps = an.merge_error_bound()
    est = {g: an.quantile_from_state(merged[g], 0.5) for g in groups}
    # each group's rank interval around ITS estimate, one grouped agg:
    # the estimate enters the plan as a CASE over the group column
    est_col = F.lit(None).cast("double")
    for g in groups:
        est_col = F.when(F.col("l_returnflag") == g,
                         F.lit(est[g])).otherwise(est_col)
    per = (li.groupBy("l_returnflag")
           .agg(F.count(F.lit(1)).alias("n"),
                F.count(F.when(qcol < est_col, 1)).alias("lt"),
                F.count(F.when(qcol <= est_col, 1)).alias("le"),
                r6(F.percentile(qcol, 0.5)).alias("p50")))
    return (per.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("n").cast("bigint").alias("n"),
        "p50",
        ((F.col("lt") / F.col("n") - F.lit(eps) <= 0.5)
         & (F.lit(0.5) <= F.col("le") / F.col("n") + F.lit(eps)))
        .alias("merged_within_bound"))
        .orderBy("returnflag"))


SQL_QUANTILE_SKETCH_BY_RETURNFLAG = """
SELECT l_returnflag AS returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
       TRUE AS merged_within_bound
FROM lineitem GROUP BY l_returnflag ORDER BY returnflag
"""


QUERIES.update(
    {"quantile_sketch_by_returnflag": q_quantile_sketch_by_returnflag})
ORACLES.update(
    {"quantile_sketch_by_returnflag": SQL_QUANTILE_SKETCH_BY_RETURNFLAG})


def q_fk_violation_examples(spark, sf_dir) -> DataFrame:
    """Bounded violation sampling, made deterministic and
    driver-oracle-checkable: restrict customer to c_custkey % 7 != 0
    (planting orphans the real corpus lacks), then report the FIRST
    10 distinct orphan o_custkey values IN KEY ORDER plus the full
    orphan row/key counts — the ordered form of
    ForeignKeyConstraint.violation_examples' DISTINCT…LIMIT scan
    (bounded example surfaces must be deterministic to be
    hash-attestable; production keeps the cheaper unordered LIMIT)."""
    o, c = _t(spark, sf_dir, "orders", "customer")
    parents = (c.filter(F.col("c_custkey") % 7 != 0)
               .select(F.col("c_custkey").alias("__pk")))
    orphans = (o.join(F.broadcast(parents),
                      o["o_custkey"] == parents["__pk"], "left_anti"))
    counts = orphans.agg(
        F.count(F.lit(1)).alias("orphan_rows"),
        F.count_distinct(F.col("o_custkey")).alias("orphan_keys"))
    examples = (orphans.select("o_custkey").distinct()
                .orderBy("o_custkey").limit(10)
                .agg(F.sort_array(F.collect_list("o_custkey"))
                     .alias("example_keys")))
    return counts.crossJoin(examples).select(
        "orphan_rows", "orphan_keys",
        F.concat_ws(",", F.col("example_keys").cast("array<string>"))
         .alias("example_keys"))


SQL_FK_VIOLATION_EXAMPLES = """
WITH parents AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0
), orphans AS (
  SELECT o_custkey FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM parents p
                    WHERE p.c_custkey = o.o_custkey)
), ex AS (
  SELECT string_agg(CAST(o_custkey AS VARCHAR), ','
                    ORDER BY o_custkey) AS example_keys
  FROM (SELECT DISTINCT o_custkey FROM orphans
        ORDER BY o_custkey LIMIT 10)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orphans) AS orphan_rows,
       (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
        FROM orphans) AS orphan_keys,
       ex.example_keys
FROM ex
"""


def q_numeric_histogram_quantity(spark, sf_dir) -> DataFrame:
    """Equi-width numeric histogram (analyzers/advanced/histogram.rs:
    185-291): min/max pass then FLOOR((x-min)/width) buckets."""
    (li,) = _t(spark, sf_dir, "lineitem")
    col = F.col("l_quantity").cast("double")
    stats = li.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).collect()[0]
    mn, mx = float(stats["mn"]), float(stats["mx"])
    buckets = 10
    width = (mx - mn) / buckets
    bucket = F.least(F.floor((col - F.lit(mn)) / F.lit(width)),
                     F.lit(buckets - 1)).cast("long")
    return (li.filter(col.isNotNull())
              .groupBy(bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("cnt"))
              .orderBy("bucket"))


SQL_NUMERIC_HISTOGRAM_QUANTITY = """
WITH stats AS (
    SELECT MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM lineitem
)
SELECT LEAST(FLOOR((l_quantity - mn) / ((mx - mn) / 10.0)), 9)::BIGINT AS bucket,
       COUNT(*) AS cnt
FROM lineitem, stats
WHERE l_quantity IS NOT NULL
GROUP BY 1 ORDER BY bucket
"""


def q_profile_customer(spark, sf_dir) -> DataFrame:
    """Per-column profile rows (profiler pass-1/3 shape): one row per
    numeric column with counts + exact min/max."""
    (c,) = _t(spark, sf_dir, "customer")
    rows = []
    for colname in ("c_custkey", "c_nationkey", "c_acctbal"):
        col = F.col(colname).cast("double")
        rows.append(c.agg(
            F.lit(colname).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("non_null"),
            F.count_distinct(F.col(colname)).alias("n_distinct"),
            r6(F.min(col)).alias("min_value"),
            r6(F.max(col)).alias("max_value"),
        ))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("column_name")


SQL_PROFILE_CUSTOMER = """
SELECT 'c_custkey' AS column_name, COUNT(*) AS n_rows, COUNT(c_custkey) AS non_null,
       COUNT(DISTINCT c_custkey) AS n_distinct,
       ROUND(MIN(c_custkey), 6) AS min_value, ROUND(MAX(c_custkey), 6) AS max_value
FROM customer
UNION ALL
SELECT 'c_nationkey', COUNT(*), COUNT(c_nationkey), COUNT(DISTINCT c_nationkey),
       ROUND(MIN(c_nationkey), 6), ROUND(MAX(c_nationkey), 6) FROM customer
UNION ALL
SELECT 'c_acctbal', COUNT(*), COUNT(c_acctbal), COUNT(DISTINCT c_acctbal),
       ROUND(MIN(c_acctbal), 6), ROUND(MAX(c_acctbal), 6) FROM customer
ORDER BY column_name
"""


def q_approx_distinct_orderkey(spark, sf_dir) -> DataFrame:
    """HLL approx distinct, made oracle-checkable: returns the EXACT
    distinct count plus a Spark-computed accuracy attestation
    (|approx - exact| / exact <= 0.05 — the reference claims 2-3% HLL
    error, term-guard/src/core/check.rs:357-358, so 5% is a safe bound
    at rsd=0.02).  The DuckDB oracle returns the exact count and TRUE,
    so the driver can record a full rows+schema+hash row.

    Plan note: the HLL estimate is aggregated over the already-distinct
    keys (duplicate-insensitive, same estimate) so exact COUNT and
    approx_count_distinct share one scan + one shuffle with no Expand —
    mixing a DISTINCT aggregate with HLL in a single agg would trigger
    the Expand+sort plan the executor's fusion policy exists to avoid."""
    (li,) = _t(spark, sf_dir, "lineitem")
    keys = li.select("l_orderkey").distinct()
    exact = F.count(F.lit(1))
    approx = F.approx_count_distinct(F.col("l_orderkey"), 0.02)
    return keys.agg(
        exact.alias("exact_distinct"),
        ((F.abs(approx.cast("double") - exact.cast("double")) / exact)
         <= F.lit(0.05)).alias("within_tolerance"),
    )


SQL_APPROX_DISTINCT_ORDERKEY = """
SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct,
       TRUE AS within_tolerance
FROM lineitem
"""


QUERIES.update({
    "quantile_exact_quantity": q_quantile_exact_quantity,
    "numeric_histogram_quantity": q_numeric_histogram_quantity,
    "profile_customer": q_profile_customer,
    "approx_distinct_orderkey": q_approx_distinct_orderkey,
    "quantile_sketch_merge_quantity": q_quantile_sketch_merge_quantity,
    "fk_violation_examples": q_fk_violation_examples,
})
ORACLES.update({
    "quantile_exact_quantity": SQL_QUANTILE_EXACT_QUANTITY,
    "numeric_histogram_quantity": SQL_NUMERIC_HISTOGRAM_QUANTITY,
    "profile_customer": SQL_PROFILE_CUSTOMER,
    "approx_distinct_orderkey": SQL_APPROX_DISTINCT_ORDERKEY,
    "quantile_sketch_merge_quantity": SQL_QUANTILE_SKETCH_MERGE_QUANTITY,
    "fk_violation_examples": SQL_FK_VIOLATION_EXAMPLES,
})


def q_grouped_stats_mktsegment(spark, sf_dir) -> DataFrame:
    """Grouped statistics (grouped analyzer shape): per-segment counts
    and exact decimal means of customer balance."""
    (c,) = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(25,4)")
    return (c.groupBy("c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(bal).cast("double").alias("sum_bal"),
                  r6(F.sum(bal).cast("double") / F.count(F.lit(1))).alias("avg_bal"),
                  r6(F.min("c_acctbal")).alias("min_bal"),
                  r6(F.max("c_acctbal")).alias("max_bal"))
             .orderBy("c_mktsegment"))


SQL_GROUPED_STATS_MKTSEGMENT = """
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS sum_bal,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) / COUNT(*), 6)
           AS avg_bal,
       ROUND(MIN(c_acctbal), 6) AS min_bal,
       ROUND(MAX(c_acctbal), 6) AS max_bal
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_rollup_pricing(spark, sf_dir) -> DataFrame:
    """ROLLUP aggregation (SURVEY 2.4 'free via df.rollup'): subtotals
    per returnflag and grand total, NULL-labeled like ANSI ROLLUP."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.sum("l_quantity").alias("sum_qty"),
                   F.count(F.lit(1)).alias("n"))
              .orderBy(F.asc_nulls_first("l_returnflag"),
                       F.asc_nulls_first("l_linestatus")))


SQL_ROLLUP_PRICING = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty, COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


QUERIES.update({
    "grouped_stats_mktsegment": q_grouped_stats_mktsegment,
    "rollup_pricing": q_rollup_pricing,
})
ORACLES.update({
    "grouped_stats_mktsegment": SQL_GROUPED_STATS_MKTSEGMENT,
    "rollup_pricing": SQL_ROLLUP_PRICING,
})


# ---------------------------------------------------------------------------
# windows/sorts oracle coverage (SURVEY 2.5/2.6): gap sessionization +
# distributed top-k
# ---------------------------------------------------------------------------

def q_sessionize_events(spark, sf_dir) -> DataFrame:
    """Gap-based sessionization (30-min inactivity breaks a session):
    per-user session counts via LAG + running SUM of boundaries —
    the standard two-window idiom, partition-parallel by user_id (no
    global sort; at 100 TB each user's timeline sorts within its own
    hash partition)."""
    from pyspark.sql import Window
    (e,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_seconds("ts") - F.lag(epoch_seconds("ts")).over(w)
    marked = (e.filter(F.col("ts").isNotNull())
               .select("user_id", "ts", "event_id",
                       F.when(gap.isNull() | (gap > 1800.0), 1)
                        .otherwise(0).alias("is_start")))
    sess = marked.select(
        "user_id", "event_id",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"))
    per_session = (sess.groupBy("user_id", "session_id")
                   .agg(F.count(F.lit(1)).alias("n_events")))
    return (per_session.groupBy("user_id")
            .agg(F.max("session_id").alias("n_sessions"),
                 F.sum("n_events").alias("n_events"),
                 F.max("n_events").alias("max_session_events"))
            .orderBy("user_id"))


SQL_SESSIONIZE_EVENTS = """
WITH marked AS (
    SELECT user_id, event_id,
           CASE WHEN EXTRACT(EPOCH FROM ts) -
                     LAG(EXTRACT(EPOCH FROM ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                     > 1800.0
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                THEN 1 ELSE 0 END AS is_start,
           ts
    FROM events WHERE ts IS NOT NULL
), sess AS (
    SELECT user_id, event_id,
           SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
), per_session AS (
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events
FROM per_session GROUP BY user_id ORDER BY user_id
"""


def q_top_customers_revenue(spark, sf_dir) -> DataFrame:
    """Top-10 customers by total order value: decimal-routed revenue,
    broadcast dimension join, and a bounded TakeOrderedAndProject
    top-k (orderBy+limit — never a global single-partition window;
    the row_number runs on the 10 surviving rows only)."""
    from pyspark.sql import Window
    o, c = _t(spark, sf_dir, "orders", "customer")
    rev = (o.groupBy("o_custkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(25,4)"))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders")))
    top = (rev.join(F.broadcast(c),
                    rev["o_custkey"] == c["c_custkey"])
              .select(F.col("c_custkey").alias("custkey"), "c_name",
                      r6(F.col("revenue")).alias("revenue"), "n_orders")
              .orderBy(F.desc("revenue"), "custkey")
              .limit(10))
    w = Window.orderBy(F.desc("revenue"), "custkey")
    return top.select(F.row_number().over(w).cast("bigint").alias("rank"),
                      "custkey", "c_name", "revenue", "n_orders")


SQL_TOP_CUSTOMERS_REVENUE = """
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS BIGINT)
           AS rank,
       c_custkey AS custkey, c_name, ROUND(revenue, 6) AS revenue, n_orders
FROM rev JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, custkey LIMIT 10
"""


QUERIES.update({
    "sessionize_events": q_sessionize_events,
    "top_customers_revenue": q_top_customers_revenue,
})
ORACLES.update({
    "sessionize_events": SQL_SESSIONIZE_EVENTS,
    "top_customers_revenue": SQL_TOP_CUSTOMERS_REVENUE,
})


def q_asof_click_error(spark, sf_dir) -> DataFrame:
    """As-of join: each click event enriched with the user's latest
    prior (or simultaneous) error event — the point-in-time join
    (operators/temporal.py asof_join; union + last(ignorenulls)
    window, one shuffle on user_id). Exact-timestamp ties resolve to
    the max event_id on both engines: the oracle dedupes its error CTE
    to one row per (user_id, ts) keeping MAX(event_id); the Spark side
    resolves the same tie INSIDE the asof window's sort
    (tiebreak_on_payload — payload struct is (ts, error_id), equal ts
    compares error_id), which needs no error-side pre-aggregation —
    r15 (guide §2.4): that groupBy was a full extra exchange +
    hash-agg pass over every error row; noop-sink A/B at sf10
    5.40 -> 3.59 s, identical output (ties planted in the focused
    test; shipped events have zero (user_id, ts) collisions, verified
    at all SFs)."""
    from .operators.temporal import asof_join
    (e,) = _t(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
               .select("event_id", "user_id", "ts"))
    errors = (e.filter(F.col("event_type") == "error")
               .select("user_id", "ts",
                       F.col("event_id").alias("error_id")))
    j = asof_join(clicks, errors, on="user_id", left_ts="ts", right_ts="ts",
                  tiebreak_on_payload=True)
    return (j.select(F.col("event_id").alias("click_id"), "user_id",
                     r6(epoch_seconds("ts")).alias("click_epoch"),
                     F.col("error_id_r").alias("error_id"),
                     r6(epoch_seconds("ts_r")).alias("error_epoch"))
             .withColumn("gap_seconds",
                         r6(F.col("click_epoch") - F.col("error_epoch")))
             .orderBy("click_id"))


SQL_ASOF_CLICK_ERROR = """
WITH clicks AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), errors AS (
    SELECT user_id, ts, MAX(event_id) AS error_id
    FROM events WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT c.event_id AS click_id, c.user_id,
       ROUND(EXTRACT(EPOCH FROM c.ts), 6) AS click_epoch,
       e.error_id,
       ROUND(EXTRACT(EPOCH FROM e.ts), 6) AS error_epoch,
       ROUND(EXTRACT(EPOCH FROM c.ts) - EXTRACT(EPOCH FROM e.ts), 6)
           AS gap_seconds
FROM clicks c
ASOF LEFT JOIN errors e
    ON c.user_id = e.user_id AND c.ts >= e.ts
ORDER BY click_id
"""


QUERIES.update({"asof_click_error": q_asof_click_error})
ORACLES.update({"asof_click_error": SQL_ASOF_CLICK_ERROR})


def q_median_by_returnflag(spark, sf_dir) -> DataFrame:
    """EXACT grouped median/quartiles via Spark's `percentile` (true
    exact, not percentile_approx — the reference's 'exact' mode falls
    back to approx, SURVEY §2.4; here exact is native). Group-parallel:
    one shuffle on the group key, sort within groups only."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_quantity, 0.25)").alias("q1"),
                 F.expr("percentile(l_quantity, 0.5)").alias("median"),
                 F.expr("percentile(l_quantity, 0.75)").alias("q3"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("l_returnflag"))


SQL_MEDIAN_BY_RETURNFLAG = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q1,
       quantile_cont(l_quantity, 0.5) AS median,
       quantile_cont(l_quantity, 0.75) AS q3,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


QUERIES.update({"median_by_returnflag": q_median_by_returnflag})
ORACLES.update({"median_by_returnflag": SQL_MEDIAN_BY_RETURNFLAG})


def q_range_join_events(spark, sf_dir) -> DataFrame:
    """Point-in-interval (range) join: events.value matched to
    OVERLAPPING value bands [i*40, i*40+60), i < 12 — each point can
    hit 2 bands, so this is a genuine range join, not a bucketing
    groupBy. Executed via operators.temporal.range_join: interval
    bucketization turns Spark's all-pairs inequality-join plan into an
    equi-join on the bucket id (gated by
    test_range_join_matches_nested_loop_and_avoids_nlj)."""
    from .operators.temporal import range_join
    (e,) = _t(spark, sf_dir, "events")
    bands = spark.range(12).select(
        F.col("id").alias("band"),
        (F.col("id") * 40.0).alias("lo"),
        (F.col("id") * 40.0 + 60.0).alias("hi"))
    j = range_join(e.select("event_id", "value"), bands,
                   "value", "lo", "hi", bucket_width=40.0)
    return (j.groupBy("band")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 r6(F.sum(F.col("value").cast("decimal(25,4)"))
                    .cast("double")).alias("sum_value"))
            .orderBy("band"))


SQL_RANGE_JOIN_EVENTS = """
WITH bands AS (
    SELECT i AS band, i * 40.0 AS lo, i * 40.0 + 60.0 AS hi
    FROM range(12) t(i)
)
SELECT band, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE), 6) AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band ORDER BY band
"""


QUERIES.update({"range_join_events": q_range_join_events})
ORACLES.update({"range_join_events": SQL_RANGE_JOIN_EVENTS})


def q_interval_join_events(spark, sf_dir) -> DataFrame:
    """Interval-OVERLAP join (operators.temporal.interval_join):
    per-user 2-hour error windows vs 2-hour click windows, matched
    where the windows overlap — incident correlation. Both sides
    bucket-explode and meet on an equi-join (user, bucket); the
    canonical-bucket rule (emit where the overlap starts) makes each
    pair exactly-once without DISTINCT."""
    from .functions import epoch_seconds
    from .operators.temporal import interval_join
    (e,) = _t(spark, sf_dir, "events")
    win = 7200.0

    def side(kind, id_name):
        return (e.filter(F.col("event_type") == kind)
                 .select(F.col("event_id").alias(id_name), "user_id",
                         epoch_seconds("ts").alias(f"{id_name}_s"),
                         (epoch_seconds("ts") + win).alias(f"{id_name}_t")))

    j = interval_join(side("error", "err"), side("click", "clk"),
                      "err_s", "err_t", "clk_s", "clk_t",
                      bucket_width=win, keys=["user_id"])
    return (j.select("user_id", F.col("err").alias("error_id"),
                     F.col("clk").alias("click_id"),
                     r6(F.least("err_t", "clk_t")
                        - F.greatest("err_s", "clk_s")).alias("overlap_sec"))
             .orderBy("error_id", "click_id"))


SQL_INTERVAL_JOIN_EVENTS = """
WITH e AS (SELECT event_id, user_id, EXTRACT(EPOCH FROM ts) AS s,
                  EXTRACT(EPOCH FROM ts) + 7200 AS t
           FROM events WHERE event_type = 'error'),
c AS (SELECT event_id, user_id, EXTRACT(EPOCH FROM ts) AS s,
             EXTRACT(EPOCH FROM ts) + 7200 AS t
      FROM events WHERE event_type = 'click')
SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
       ROUND(LEAST(e.t, c.t) - GREATEST(e.s, c.s), 6) AS overlap_sec
FROM e JOIN c ON e.user_id = c.user_id AND e.s < c.t AND c.s < e.t
ORDER BY error_id, click_id
"""


QUERIES.update({"interval_join_events": q_interval_join_events})
ORACLES.update({"interval_join_events": SQL_INTERVAL_JOIN_EVENTS})


def q_rolling_daily_events(spark, sf_dir) -> DataFrame:
    """Daily event counts per type with a 7-day trailing moving average
    — the rolling-window time-series shape (RANGE frame over a day
    index, so missing days genuinely widen the window instead of the
    ROWS frame silently spanning gaps).

    Scale: the pre-aggregation shrinks events to |types|×|days| rows
    before any window runs; the window partitions by event_type. The
    global orderBy is presentation-only over that tiny aggregate.
    """
    from pyspark.sql import Window
    (e,) = _t(spark, sf_dir, "events")
    daily = (e.filter(F.col("ts").isNotNull())
              .groupBy("event_type", F.to_date("ts").alias("day"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    w = (Window.partitionBy("event_type")
         .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
         .rangeBetween(-6, 0))
    return (daily.select("event_type",
                         F.date_format("day", "yyyy-MM-dd").alias("day"),
                         "n_events",
                         r6(F.avg("n_events").over(w)).alias("avg_7d"))
            .orderBy("event_type", "day"))


SQL_ROLLING_DAILY_EVENTS = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
       ROUND(AVG(n_events) OVER (
           PARTITION BY event_type
           ORDER BY date_diff('day', DATE '1970-01-01', day)
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS avg_7d
FROM daily ORDER BY event_type, day
"""


QUERIES.update({"rolling_daily_events": q_rolling_daily_events})
ORACLES.update({"rolling_daily_events": SQL_ROLLING_DAILY_EVENTS})


def q_pivot_returnflag_linestatus(spark, sf_dir) -> DataFrame:
    """Pivot (cross-tab): row counts and quantity sums per l_returnflag
    × l_linestatus cell, statuses as columns — the reshaping operator
    (§2.6). Spark's groupBy().pivot() with EXPLICIT pivot values: the
    values list keeps the plan a single pass (no extra distinct scan to
    discover columns) and fixes the output schema, which is what a 100
    TB job wants anyway (schema drift in a pivot is an error, not a
    feature)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
              .pivot("l_linestatus", ["O", "F"])
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("l_quantity").cast("decimal(25,4)"))
                    .cast("double").alias("sum_qty"))
              .select("l_returnflag",
                      F.coalesce("O_n", F.lit(0)).alias("o_n"),
                      F.coalesce("O_sum_qty", F.lit(0.0)).alias("o_sum_qty"),
                      F.coalesce("F_n", F.lit(0)).alias("f_n"),
                      F.coalesce("F_sum_qty", F.lit(0.0)).alias("f_sum_qty"))
              .orderBy("l_returnflag"))


SQL_PIVOT_RETURNFLAG_LINESTATUS = """
SELECT l_returnflag,
       COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_n,
       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
                 THEN CAST(l_quantity AS DECIMAL(25,4)) END), 0) AS DOUBLE)
           AS o_sum_qty,
       COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_n,
       CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
                 THEN CAST(l_quantity AS DECIMAL(25,4)) END), 0) AS DOUBLE)
           AS f_sum_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


QUERIES.update({"pivot_returnflag_linestatus": q_pivot_returnflag_linestatus})
ORACLES.update({"pivot_returnflag_linestatus": SQL_PIVOT_RETURNFLAG_LINESTATUS})


def q_top3_customers_per_segment(spark, sf_dir) -> DataFrame:
    """Per-group top-N (top-3 customers by balance within each market
    segment) — the windowed-rank shape. Partition-parallel: each
    segment ranks inside its own hash partition; no global sort. Ties
    broken by key so both engines pick identical rows."""
    from pyspark.sql import Window
    (c,) = _t(spark, sf_dir, "customer")
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.desc("c_acctbal"), F.asc("c_custkey")))
    return (c.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= 3)
            .select("c_mktsegment", "rank", "c_custkey",
                    F.col("c_acctbal").alias("acctbal"))
            .orderBy("c_mktsegment", "rank"))


SQL_TOP3_CUSTOMERS_PER_SEGMENT = """
SELECT c_mktsegment, rank, c_custkey, acctbal FROM (
    SELECT c_mktsegment, c_custkey, c_acctbal AS acctbal,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
    FROM customer)
WHERE rank <= 3 ORDER BY c_mktsegment, rank
"""


def q_unpivot_pricing(spark, sf_dir) -> DataFrame:
    """Unpivot/melt: per-returnflag metric columns reshaped to long
    (metric, value) rows via the stack generator — the inverse of the
    pivot query, same single-agg-then-narrow-reshape plan."""
    (li,) = _t(spark, sf_dir, "lineitem")
    wide = (li.groupBy("l_returnflag")
              .agg(F.sum(F.col("l_quantity").cast("decimal(25,4)"))
                    .cast("double").alias("sum_qty"),
                   F.sum(F.col("l_extendedprice").cast("decimal(25,4)"))
                    .cast("double").alias("sum_price"),
                   F.count(F.lit(1)).cast("double").alias("n_rows")))
    return (wide.select(
        "l_returnflag",
        F.expr("stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, "
               "'n_rows', n_rows) AS (metric, value)"))
        .orderBy("l_returnflag", "metric"))


SQL_UNPIVOT_PRICING = """
WITH wide AS (
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_price,
           CAST(COUNT(*) AS DOUBLE) AS n_rows
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value FROM (
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'n_rows', n_rows FROM wide)
ORDER BY l_returnflag, metric
"""


QUERIES.update({
    "top3_customers_per_segment": q_top3_customers_per_segment,
    "unpivot_pricing": q_unpivot_pricing,
})
ORACLES.update({
    "top3_customers_per_segment": SQL_TOP3_CUSTOMERS_PER_SEGMENT,
    "unpivot_pricing": SQL_UNPIVOT_PRICING,
})


def q_benford_acctbal(spark, sf_dir) -> DataFrame:
    """Benford first-digit distribution of customer balances: per-digit
    counts + observed vs expected shares (BenfordConstraint's nine
    conditional counts, shown long-form). Synthetic balances are
    uniform-ish, so the distribution is far from Benford — the parity
    check cares that both engines compute the identical digits and
    shares, not that the data obeys the law."""
    from .operators.statistics import BenfordConstraint
    (c,) = _t(spark, sf_dir, "customer")
    fd = BenfordConstraint.first_digit(F.col("c_acctbal"))
    per = (c.select(fd.alias("digit")).filter(F.col("digit").isNotNull())
            .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    from pyspark.sql import Window
    tot = F.sum("n").over(Window.partitionBy())
    return (per.select(F.col("digit").cast("bigint").alias("digit"), "n",
                       r6(F.col("n") / tot).alias("observed"),
                       r6(F.log10(1 + 1 / F.col("digit"))).alias("expected"))
            .orderBy("digit"))


SQL_BENFORD_ACCTBAL = """
WITH fd AS (
    SELECT GREATEST(1, LEAST(9, CAST(FLOOR(ABS(c_acctbal) /
                POW(10.0, FLOOR(LOG10(ABS(c_acctbal))))) AS INT))) AS digit
    FROM customer WHERE c_acctbal IS NOT NULL AND ABS(c_acctbal) > 0
),
per AS (SELECT digit, COUNT(*) AS n FROM fd GROUP BY digit)
SELECT CAST(digit AS BIGINT) AS digit, n,
       ROUND(n * 1.0 / SUM(n) OVER (), 6) AS observed,
       ROUND(LOG10(1 + 1.0 / digit), 6) AS expected
FROM per ORDER BY digit
"""


QUERIES.update({"benford_acctbal": q_benford_acctbal})
ORACLES.update({"benford_acctbal": SQL_BENFORD_ACCTBAL})


def q_drift_psi_quantity(spark, sf_dir) -> DataFrame:
    """Distribution drift between two lineitem snapshots (even vs odd
    orderkeys — a deterministic split standing in for yesterday/today):
    PSI of l_quantity over 10 fixed-width buckets on its [1, 50]
    domain (statistics.population_stability). Fixed domain = no extra
    min/max scan, and both engines bucket identically."""
    from .operators.statistics import population_stability
    (li,) = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    return population_stability(ref, cur, "l_quantity",
                                bins=10, lo=1.0, hi=50.0)


SQL_DRIFT_PSI_QUANTITY = """
WITH ref AS (
    SELECT GREATEST(0, LEAST(9, CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0)
                                     / 4.9) AS BIGINT))) AS bucket
    FROM lineitem WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL
), cur AS (
    SELECT GREATEST(0, LEAST(9, CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0)
                                     / 4.9) AS BIGINT))) AS bucket
    FROM lineitem WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL
),
p AS (SELECT bucket, COUNT(*) AS n_p,
             COUNT(*) * 1.0 / SUM(COUNT(*)) OVER () AS p
      FROM ref GROUP BY bucket),
q AS (SELECT bucket, COUNT(*) AS n_q,
             COUNT(*) * 1.0 / SUM(COUNT(*)) OVER () AS q
      FROM cur GROUP BY bucket),
j AS (
    SELECT COALESCE(n_p, 0) AS n_p, COALESCE(n_q, 0) AS n_q,
           GREATEST(COALESCE(p, 0.0), 1e-6) AS p,
           GREATEST(COALESCE(q, 0.0), 1e-6) AS q
    FROM p FULL OUTER JOIN q USING (bucket)
)
SELECT CAST(SUM(n_p) AS BIGINT) AS n_ref,
       CAST(SUM(n_q) AS BIGINT) AS n_cur,
       ROUND(SUM((p - q) * LN(p / q)), 6) AS psi
FROM j
"""


QUERIES.update({"drift_psi_quantity": q_drift_psi_quantity})
ORACLES.update({"drift_psi_quantity": SQL_DRIFT_PSI_QUANTITY})


def q_drift_ks_quantity(spark, sf_dir) -> DataFrame:
    """Exact two-sample KS statistic between the even/odd-orderkey
    lineitem snapshots on l_quantity (operators.drift.ks_statistic):
    grouped counts per distinct value per side, one cumulative-sum
    window over the |distinct|-sized key table, sup of the CDF gap."""
    from .operators.drift import ks_statistic
    (li,) = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    return ks_statistic(ref, cur, "l_quantity")


SQL_DRIFT_KS_QUANTITY = """
WITH ref AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem
             WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL),
cur AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL),
r AS (SELECT v, COUNT(*) AS n_ref FROM ref GROUP BY v),
c AS (SELECT v, COUNT(*) AS n_cur FROM cur GROUP BY v),
j AS (SELECT COALESCE(r.v, c.v) AS v, COALESCE(n_ref, 0) AS n_ref,
             COALESCE(n_cur, 0) AS n_cur
      FROM r FULL OUTER JOIN c ON r.v = c.v),
cdf AS (SELECT n_ref, n_cur,
               SUM(n_ref) OVER (ORDER BY v) * 1.0 / SUM(n_ref) OVER () AS cdf_ref,
               SUM(n_cur) OVER (ORDER BY v) * 1.0 / SUM(n_cur) OVER () AS cdf_cur
        FROM j)
SELECT CAST(SUM(n_ref) AS BIGINT) AS n_ref,
       CAST(SUM(n_cur) AS BIGINT) AS n_cur,
       ROUND(MAX(ABS(cdf_ref - cdf_cur)), 6) AS ks
FROM cdf
"""


def q_drift_chi2_returnflag(spark, sf_dir) -> DataFrame:
    """Categorical drift between the even/odd-orderkey lineitem
    snapshots on l_returnflag: goodness-of-fit chi-squared vs the
    reference shares plus Cramér's V, the scale-stable threshold
    metric (operators.drift.chi_squared_drift)."""
    from .operators.drift import chi_squared_drift
    (li,) = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    return chi_squared_drift(ref, cur, "l_returnflag")


SQL_DRIFT_CHI2_RETURNFLAG = """
WITH ref AS (SELECT l_returnflag AS k FROM lineitem
             WHERE l_orderkey % 2 = 0 AND l_returnflag IS NOT NULL),
cur AS (SELECT l_returnflag AS k FROM lineitem
        WHERE l_orderkey % 2 = 1 AND l_returnflag IS NOT NULL),
r AS (SELECT k, COUNT(*) AS n_ref FROM ref GROUP BY k),
c AS (SELECT k, COUNT(*) AS n_cur FROM cur GROUP BY k),
j AS (SELECT COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM r FULL OUTER JOIN c USING (k)),
s AS (SELECT n_ref, n_cur,
             GREATEST(n_ref * 1.0 / SUM(n_ref) OVER (), 1e-6) AS p_ref,
             SUM(n_cur) OVER () AS tot_cur FROM j),
cells AS (SELECT n_ref, n_cur, p_ref * tot_cur AS expected FROM s),
a AS (SELECT SUM(n_ref) AS n_ref, SUM(n_cur) AS n_cur,
             COUNT(*) AS n_categories,
             SUM(POW(n_cur - expected, 2) / expected) AS chi2_raw FROM cells)
SELECT CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       CAST(n_categories AS BIGINT) AS n_categories,
       ROUND(chi2_raw, 6) AS chi2,
       ROUND(SQRT(chi2_raw / (n_cur * GREATEST(n_categories - 1, 1))), 6)
           AS cramers_v
FROM a
"""


def q_drift_js_quantity(spark, sf_dir) -> DataFrame:
    """Jensen–Shannon divergence (log2, [0,1]) between the even/odd
    lineitem snapshots on l_quantity over the same 10 fixed buckets as
    the PSI query (operators.drift.js_divergence) — symmetric, finite
    on disjoint supports, no eps smoothing."""
    from .operators.drift import js_divergence
    (li,) = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    return js_divergence(ref, cur, "l_quantity", bins=10, lo=1.0, hi=50.0)


SQL_DRIFT_JS_QUANTITY = """
WITH ref AS (
    SELECT GREATEST(0, LEAST(9, CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0)
                                     / 4.9) AS BIGINT))) AS k
    FROM lineitem WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL
), cur AS (
    SELECT GREATEST(0, LEAST(9, CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0)
                                     / 4.9) AS BIGINT))) AS k
    FROM lineitem WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL
),
r AS (SELECT k, COUNT(*) AS n_ref FROM ref GROUP BY k),
c AS (SELECT k, COUNT(*) AS n_cur FROM cur GROUP BY k),
j AS (SELECT COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM r FULL OUTER JOIN c USING (k)),
s AS (SELECT n_ref, n_cur,
             n_ref * 1.0 / SUM(n_ref) OVER () AS p,
             n_cur * 1.0 / SUM(n_cur) OVER () AS q FROM j),
t AS (SELECT n_ref, n_cur,
             CASE WHEN p > 0 THEN p * LOG2(p / ((p + q) / 2)) ELSE 0 END +
             CASE WHEN q > 0 THEN q * LOG2(q / ((p + q) / 2)) ELSE 0 END
                 AS term FROM s)
SELECT CAST(SUM(n_ref) AS BIGINT) AS n_ref,
       CAST(SUM(n_cur) AS BIGINT) AS n_cur,
       ROUND(SUM(term) / 2, 6) AS js
FROM t
"""


def q_drift_w1_quantity(spark, sf_dir) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between the even/odd
    lineitem snapshots on l_quantity over the same 10 fixed buckets as
    the PSI/JS queries (operators.drift.wasserstein_1) — the
    displacement-weighted member of the drift quintet; empty buckets
    carry the persisting CDF gap via run-length weights."""
    from .operators.drift import wasserstein_1
    (li,) = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    return wasserstein_1(ref, cur, "l_quantity", bins=10, lo=1.0, hi=50.0)


SQL_DRIFT_W1_QUANTITY = """
WITH ref AS (
    SELECT GREATEST(0, LEAST(9, CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0)
                                     / 4.9) AS BIGINT))) AS k
    FROM lineitem WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL
), cur AS (
    SELECT GREATEST(0, LEAST(9, CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0)
                                     / 4.9) AS BIGINT))) AS k
    FROM lineitem WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL
),
r AS (SELECT k, COUNT(*) AS n_ref FROM ref GROUP BY k),
c AS (SELECT k, COUNT(*) AS n_cur FROM cur GROUP BY k),
j AS (SELECT k, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM r FULL OUTER JOIN c USING (k)),
s AS (SELECT k, n_ref, n_cur,
             COALESCE(LEAD(k) OVER (ORDER BY k), 10) - k AS run,
             SUM(n_ref) OVER (ORDER BY k) * 1.0 / SUM(n_ref) OVER ()
                 AS cdf_ref,
             SUM(n_cur) OVER (ORDER BY k) * 1.0 / SUM(n_cur) OVER ()
                 AS cdf_cur
      FROM j)
SELECT CAST(SUM(n_ref) AS BIGINT) AS n_ref,
       CAST(SUM(n_cur) AS BIGINT) AS n_cur,
       ROUND(SUM(ABS(cdf_ref - cdf_cur) * run) * 4.9, 6) AS w1,
       ROUND(SUM(ABS(cdf_ref - cdf_cur) * run) * 4.9 / 49.0, 6) AS w1_norm
FROM s
"""


QUERIES.update({
    "drift_ks_quantity": q_drift_ks_quantity,
    "drift_chi2_returnflag": q_drift_chi2_returnflag,
    "drift_js_quantity": q_drift_js_quantity,
    "drift_w1_quantity": q_drift_w1_quantity,
})
ORACLES.update({
    "drift_ks_quantity": SQL_DRIFT_KS_QUANTITY,
    "drift_chi2_returnflag": SQL_DRIFT_CHI2_RETURNFLAG,
    "drift_js_quantity": SQL_DRIFT_JS_QUANTITY,
    "drift_w1_quantity": SQL_DRIFT_W1_QUANTITY,
})


def q_line_dedup_summary_docs(spark, sf_dir) -> DataFrame:
    """Line-level boilerplate accounting over the documents corpus
    (text.line_dedup_summary): lines occurring 2+ times corpus-wide
    are what dedup_lines would strip. The synthetic corpus is
    single-line prose, so the duplicate counts are zero — the parity
    check still exercises the full explode → corpus-count → join
    pipeline on both engines; planted-fixture tests prove the removal
    behavior (tests/test_line_dedup_budget.py)."""
    from .operators.text import line_dedup_summary
    (d,) = _t(spark, sf_dir, "documents")
    return line_dedup_summary(d)


SQL_LINE_DEDUP_SUMMARY_DOCS = """
WITH lines AS (
    SELECT unnest(string_split(text, chr(10))) AS line FROM documents
),
freq AS (SELECT line, COUNT(*) AS n FROM lines GROUP BY line),
s AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total_lines,
           CAST(COUNT(*) AS BIGINT) AS distinct_lines,
           CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n END), 0) AS BIGINT)
               AS dup_line_instances,
           CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n * LENGTH(line) END), 0)
                AS BIGINT) AS chars_removed
    FROM freq
),
d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE text IS NOT NULL)
SELECT n_docs, total_lines, distinct_lines, dup_line_instances, chars_removed
FROM d, s
"""


def q_paragraph_dedup_summary_docs(spark, sf_dir) -> DataFrame:
    """Paragraph-level exact-dedup accounting over the documents corpus
    (text.paragraph_dedup_summary, round 9): paragraphs (split on 2+
    newlines) occurring 2+ times corpus-wide are what dedup_paragraphs
    would strip.  The synthetic corpus has no blank-line structure, so
    each document is one paragraph and the duplicate counts surface the
    corpus's exact DOC-level clones — the parity check still exercises
    the full explode → md5-fingerprint count → summary pipeline on both
    engines; planted multi-paragraph fixtures prove the removal and
    reassembly behavior (tests/test_text_cleaning.py)."""
    from .operators.text import paragraph_dedup_summary
    (d,) = _t(spark, sf_dir, "documents")
    return paragraph_dedup_summary(d)


SQL_PARAGRAPH_DEDUP_SUMMARY_DOCS = r"""
WITH paras AS (
    SELECT unnest(string_split_regex(text, '\n{2,}')) AS para
    FROM documents
),
freq AS (
    SELECT md5(para) AS fp, COUNT(*) AS n, MAX(LENGTH(para)) AS plen
    FROM paras GROUP BY md5(para)
),
s AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total_paras,
           CAST(COUNT(*) AS BIGINT) AS distinct_paras,
           CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n END), 0) AS BIGINT)
               AS dup_para_instances,
           CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n * plen END), 0)
                AS BIGINT) AS chars_removed
    FROM freq
),
d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE text IS NOT NULL)
SELECT n_docs, total_paras, distinct_paras, dup_para_instances, chars_removed
FROM d, s
"""


def q_substring_dedup_docs(spark, sf_dir) -> DataFrame:
    """Exact-substring duplicate spans per document (round 10;
    text.duplicated_spans, the Lee et al. 2021 ExactSubstr tier at
    k=10 normalized tokens, min_count=2): every maximal token span
    inside a verbatim >= 10-token repeat, merged per doc, with the
    token count it would cost to strip them.  The oracle replays the
    identical gram-md5 → corpus-frequency → cover-position →
    interval-merge pipeline in DuckDB windows; an independent pure-
    Python check pins the same numbers in tests/test_substring_dedup.py.
    At sf0.01 the synthetic corpus's planted clones surface as 47
    docs with duplicated spans, several at dup_fraction 1.0."""
    from .operators.text import duplicated_spans, norm_tokens
    (d,) = _t(spark, sf_dir, "documents")
    spans = duplicated_spans(d, k=10, min_count=2)
    ntok = d.select("doc_id", F.size(norm_tokens("text"))
                    .cast("bigint").alias("n_tokens"))
    per = (spans.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_spans"),
                F.sum("span_tokens").cast("bigint").alias("dup_tokens")))
    return (per.join(ntok, "doc_id")
            .select("doc_id", "n_spans", "dup_tokens", "n_tokens",
                    F.round(F.col("dup_tokens") / F.col("n_tokens"), 6)
                    .alias("dup_fraction"))
            .orderBy("doc_id"))


SQL_SUBSTRING_DEDUP_DOCS = r"""
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text),
                      '[^\p{L}\p{N}]+', ' ', 'g')), ' ') AS toks
  FROM documents
), g0 AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 10 + 1, 0) + 1),
                        i -> {'pos': i - 1,
                              'h': md5(array_to_string(toks[i:i+9], ' '))})
             AS gl,
         len(toks) AS n_tokens
  FROM n
), gu AS (
  SELECT doc_id, n_tokens, unnest(gl) AS s FROM g0
), g AS (
  SELECT doc_id, n_tokens, s.pos AS pos, s.h AS h FROM gu
), dup AS (
  SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2
), p AS (
  SELECT doc_id, n_tokens, pos FROM g WHERE h IN (SELECT h FROM dup)
), b AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN pos - lag(pos) OVER w <= 10 THEN 0 ELSE 1 END AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), sp AS (
  SELECT doc_id, n_tokens, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS span_id
  FROM b
), spans AS (
  SELECT doc_id, ANY_VALUE(n_tokens) AS n_tokens, span_id,
         MIN(pos) AS span_start, MAX(pos) + 10 AS span_end
  FROM sp GROUP BY doc_id, span_id
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_end - span_start) AS BIGINT) AS dup_tokens,
       CAST(ANY_VALUE(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(span_end - span_start) AS DOUBLE)
             / ANY_VALUE(n_tokens), 6) AS dup_fraction
FROM spans GROUP BY doc_id ORDER BY doc_id
"""


def q_substring_rewrite_docs(spark, sf_dir) -> DataFrame:
    """The REWRITE side of the ExactSubstr tier
    (text.remove_duplicated_spans, k=10, min_count=2): for every
    document with at least one duplicated span, the normalized token
    count before, the count after stripping every duplicated span
    (0 when the whole document was duplicated text), and the md5
    fingerprint of the rewritten text (NULL when the document
    disappeared).  The oracle rebuilds the cleaned text independently
    in DuckDB — token rows minus span-covered positions, re-joined in
    order — so the fingerprint match proves the rewrite byte-for-byte,
    not just the accounting."""
    from .operators.text import norm_tokens, remove_duplicated_spans
    (d,) = _t(spark, sf_dir, "documents")
    cleaned, spans = remove_duplicated_spans(d, k=10, min_count=2)
    affected = spans.select("doc_id").distinct()
    before = d.select("doc_id",
                      F.size(norm_tokens("text")).cast("bigint")
                      .alias("n_before"))
    after = cleaned.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_after"),
        F.md5("text").alias("cleaned_fp"))
    return (affected.join(before, "doc_id").join(after, "doc_id", "left")
            .select("doc_id", "n_before",
                    F.coalesce(F.col("n_after"), F.lit(0).cast("bigint"))
                    .alias("n_after"), "cleaned_fp")
            .orderBy("doc_id"))


SQL_SUBSTRING_REWRITE_DOCS = r"""
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text),
                      '[^\p{L}\p{N}]+', ' ', 'g')), ' ') AS toks
  FROM documents
), g0 AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 10 + 1, 0) + 1),
                        i -> {'pos': i - 1,
                              'h': md5(array_to_string(toks[i:i+9], ' '))})
             AS gl
  FROM n
), gu AS (
  SELECT doc_id, unnest(gl) AS s FROM g0
), g AS (
  SELECT doc_id, s.pos AS pos, s.h AS h FROM gu
), dup AS (
  SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2
), p AS (
  SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)
), b AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w <= 10 THEN 0 ELSE 1 END AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), sp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS span_id
  FROM b
), spans AS (
  SELECT doc_id, span_id, MIN(pos) AS span_start, MAX(pos) + 10 AS span_end
  FROM sp GROUP BY doc_id, span_id
), affected AS (
  SELECT DISTINCT doc_id FROM spans
), tok0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) + 1),
                               i -> {'idx': i - 1, 'tok': toks[i]})) AS s
  FROM n JOIN affected USING (doc_id)
), tok AS (
  SELECT doc_id, s.idx AS idx, s.tok AS tok FROM tok0
), kept AS (
  SELECT t.doc_id, t.idx, t.tok FROM tok t
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = t.doc_id
                      AND t.idx >= s.span_start AND t.idx < s.span_end)
), rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
         md5(string_agg(tok, ' ' ORDER BY idx)) AS cleaned_fp
  FROM kept GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(len(n.toks) AS BIGINT) AS n_before,
       COALESCE(r.n_after, 0) AS n_after,
       r.cleaned_fp
FROM affected a
JOIN n USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
ORDER BY a.doc_id
"""


def q_token_budget_sample_docs(spark, sf_dir) -> DataFrame:
    """Greedy per-source token-budget selection
    (curation.token_budget_sample, budget 500 tokens/source): docs
    ordered by md5(seed‖id) within source, kept while the inclusive
    running token total fits. Returns per-source kept counts — the
    oracle recomputes the identical hash order and window in DuckDB."""
    from .operators.curation import token_budget_sample
    (d,) = _t(spark, sf_dir, "documents")
    kept = token_budget_sample(d, 500, by="source")
    return (kept.groupBy("source")
                .agg(F.count(F.lit(1)).alias("kept_docs"),
                     F.sum("__n_tokens").alias("kept_tokens"))
                .orderBy("source"))


SQL_TOKEN_BUDGET_SAMPLE_DOCS = r"""
WITH t AS (
    SELECT source, doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
           md5('term:' || CAST(doc_id AS VARCHAR)) AS rk
    FROM documents
), c AS (
    SELECT source, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
FROM c WHERE cum <= 500 GROUP BY source ORDER BY source
"""


QUERIES.update({
    "line_dedup_summary_docs": q_line_dedup_summary_docs,
    "paragraph_dedup_summary_docs": q_paragraph_dedup_summary_docs,
    "substring_dedup_docs": q_substring_dedup_docs,
    "substring_rewrite_docs": q_substring_rewrite_docs,
    "token_budget_sample_docs": q_token_budget_sample_docs,
})
ORACLES.update({
    "line_dedup_summary_docs": SQL_LINE_DEDUP_SUMMARY_DOCS,
    "paragraph_dedup_summary_docs": SQL_PARAGRAPH_DEDUP_SUMMARY_DOCS,
    "substring_dedup_docs": SQL_SUBSTRING_DEDUP_DOCS,
    "substring_rewrite_docs": SQL_SUBSTRING_REWRITE_DOCS,
    "token_budget_sample_docs": SQL_TOKEN_BUDGET_SAMPLE_DOCS,
})


def q_outlier_mad_acctbal(spark, sf_dir) -> DataFrame:
    """Robust outlier accounting on customer balances
    (statistics.robust_outlier_summary, k=3 exact): median, MAD, the
    median ± 3·1.4826·MAD fence, and how many balances fall outside
    it. Three sequential pruned 1-row aggs — the chain is inherent
    (each pass is parameterized by the previous scalar)."""
    from .operators.statistics import robust_outlier_summary
    (c,) = _t(spark, sf_dir, "customer")
    return robust_outlier_summary(c, "c_acctbal", k=3.0, mode="exact")


SQL_OUTLIER_MAD_ACCTBAL = """
WITH m AS (SELECT quantile_cont(CAST(c_acctbal AS DOUBLE), 0.5) AS med
           FROM customer),
d AS (SELECT med,
             quantile_cont(ABS(CAST(c_acctbal AS DOUBLE) - med), 0.5) AS mad
      FROM customer, m GROUP BY med),
b AS (SELECT med, mad, med - 3.0 * 1.4826 * mad AS lo,
             med + 3.0 * 1.4826 * mad AS hi FROM d)
SELECT CAST(COUNT(c_acctbal) AS BIGINT) AS n,
       ROUND(MAX(b.med), 6) AS median,
       ROUND(MAX(b.mad), 6) AS mad,
       ROUND(MAX(b.lo), 6) AS lo,
       ROUND(MAX(b.hi), 6) AS hi,
       CAST(COUNT(CASE WHEN CAST(c_acctbal AS DOUBLE) < b.lo
                         OR CAST(c_acctbal AS DOUBLE) > b.hi THEN 1 END)
            AS BIGINT) AS n_outliers,
       ROUND(COUNT(CASE WHEN CAST(c_acctbal AS DOUBLE) < b.lo
                          OR CAST(c_acctbal AS DOUBLE) > b.hi THEN 1 END)
             * 1.0 / COUNT(c_acctbal), 6) AS outlier_ratio
FROM customer, b
"""


QUERIES.update({"outlier_mad_acctbal": q_outlier_mad_acctbal})
ORACLES.update({"outlier_mad_acctbal": SQL_OUTLIER_MAD_ACCTBAL})


def q_text_cleaning_docs(spark, sf_dir) -> DataFrame:
    """Corpus cleanup accounting (text.text_cleaning_summary): how many
    documents the ftfy-lite pass (control/zero-width strip, unicode
    space + curly-quote normalization, whitespace collapse) would
    change and the total character delta. The synthetic corpus is
    plain ASCII, so the delta is zero — parity still replays the full
    five-stage regexp/translate chain in both engines; planted-fixture
    tests prove each cleanup stage (tests/test_text_cleaning.py)."""
    from .operators.text import text_cleaning_summary
    (d,) = _t(spark, sf_dir, "documents")
    return text_cleaning_summary(d)


SQL_TEXT_CLEANING_DOCS = r"""
WITH c AS (
    SELECT text,
           trim(regexp_replace(
               regexp_replace(
                   translate(
                       regexp_replace(
                           regexp_replace(text,
                               '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]',
                               '', 'g'),
                           '[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]',
                           ' ', 'g'),
                       '“”‘’–—', '""' || chr(39) || chr(39) || '--'),
                   '[ \t]+', ' ', 'g'),
               '\n[ ]*(\n[ ]*)+', chr(10) || chr(10), 'g')) AS cleaned
    FROM documents WHERE text IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN cleaned <> text THEN 1 END) AS BIGINT)
           AS docs_changed,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars_before,
       CAST(SUM(LENGTH(cleaned)) AS BIGINT) AS chars_after
FROM c
"""


QUERIES.update({"text_cleaning_docs": q_text_cleaning_docs})
ORACLES.update({"text_cleaning_docs": SQL_TEXT_CLEANING_DOCS})


def q_dominant_value_orderstatus(spark, sf_dir) -> DataFrame:
    """Exact most-frequent-value accounting on o_orderstatus
    (histogram.dominant_value_summary): grouped count + 1-row
    struct-max, ties broken toward the larger value — the
    default-value-pollution screen, without collecting a histogram."""
    from .operators.histogram import dominant_value_summary
    (o,) = _t(spark, sf_dir, "orders")
    return dominant_value_summary(o, "o_orderstatus")


SQL_DOMINANT_VALUE_ORDERSTATUS = """
WITH counts AS (
    SELECT o_orderstatus AS v, COUNT(*) AS n
    FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY o_orderstatus
),
top AS (SELECT v, n FROM counts ORDER BY n DESC, v DESC LIMIT 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_distinct FROM counts)
SELECT top.v AS top_value, CAST(top.n AS BIGINT) AS top_count,
       tot.total, tot.n_distinct,
       ROUND(top.n * 1.0 / tot.total, 6) AS top_share
FROM top, tot
"""


QUERIES.update({"dominant_value_orderstatus": q_dominant_value_orderstatus})
ORACLES.update({"dominant_value_orderstatus": SQL_DOMINANT_VALUE_ORDERSTATUS})


def q_drift_psi_by_returnflag(spark, sf_dir) -> DataFrame:
    """Per-segment drift: PSI of l_quantity per l_returnflag between
    the even/odd-orderkey snapshots over the SAME 10 fixed buckets as
    the scalar PSI query (operators.drift.population_stability_by) —
    the "which segment drifted?" form, one comparable row per flag."""
    from .operators.drift import population_stability_by
    (li,) = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    return population_stability_by(ref, cur, "l_quantity", "l_returnflag",
                                   bins=10, lo=1.0, hi=50.0)


SQL_DRIFT_PSI_BY_RETURNFLAG = """
WITH ref AS (
    SELECT l_returnflag AS g,
           GREATEST(0, LEAST(9, CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0)
                                     / 4.9) AS BIGINT))) AS bucket
    FROM lineitem WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL
), cur AS (
    SELECT l_returnflag AS g,
           GREATEST(0, LEAST(9, CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0)
                                     / 4.9) AS BIGINT))) AS bucket
    FROM lineitem WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL
),
r AS (SELECT g, bucket, COUNT(*) AS n_p,
             COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY g) AS p
      FROM ref GROUP BY g, bucket),
c AS (SELECT g, bucket, COUNT(*) AS n_q,
             COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY g) AS q
      FROM cur GROUP BY g, bucket),
j AS (SELECT COALESCE(r.g, c.g) AS g,
             COALESCE(n_p, 0) AS n_p, COALESCE(n_q, 0) AS n_q,
             GREATEST(COALESCE(p, 0.0), 1e-6) AS p,
             GREATEST(COALESCE(q, 0.0), 1e-6) AS q
      FROM r FULL OUTER JOIN c ON r.g = c.g AND r.bucket = c.bucket),
a AS (SELECT g, SUM(n_p) AS n_ref, SUM(n_q) AS n_cur,
             ROUND(SUM((p - q) * LN(p / q)), 6) AS psi_raw
      FROM j GROUP BY g)
SELECT g AS l_returnflag, CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       CASE WHEN n_ref > 0 AND n_cur > 0 THEN psi_raw END AS psi
FROM a ORDER BY l_returnflag
"""


QUERIES.update({"drift_psi_by_returnflag": q_drift_psi_by_returnflag})
ORACLES.update({"drift_psi_by_returnflag": SQL_DRIFT_PSI_BY_RETURNFLAG})


def q_quality_model_docs(spark, sf_dir) -> DataFrame:
    """Hashed-linear quality-model scoring (text.quality_model_scores)
    over the documents corpus with a deterministic 64-dim weight
    vector w[i] = ((i·37) mod 64)/64 − 0.5 — both engines derive the
    SAME weight from the hashed index, so the oracle needs no literal
    array."""
    from .operators.text import quality_model_scores
    (d,) = _t(spark, sf_dir, "documents")
    weights = [((i * 37) % 64) / 64.0 - 0.5 for i in range(64)]
    scored = quality_model_scores(d, weights)
    # parity surface: the EXACT integer numerator Σ 64·w(token). The
    # rounded float mean ties at half-decimals (they are dyadic
    # rationals), where Spark rounds half-away and DuckDB half-even —
    # a rounding-MODE difference, not a value difference; the integer
    # is recoverable exactly from the rounded mean (error ≤ 5e-7·64·n,
    # which stays < 0.5 for docs under ~15,625 tokens — true of every
    # doc in the synthetic corpora; a production corpus with longer
    # docs should compare the unrounded sum instead, ADVICE r5).
    return (scored.select(
        "doc_id", "n_tokens",
        F.round(F.col("raw_score") * F.col("n_tokens") * 64.0, 0)
         .cast("bigint").alias("score_sum64"))
        .orderBy("doc_id"))


SQL_QUALITY_MODEL_DOCS = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text),
               '[^\p{L}\p{N}]+', ' ', 'g')), ' ')) AS tok
    FROM documents WHERE text IS NOT NULL
),
i AS (
    SELECT doc_id,
           CAST((('0x' || substr(md5(tok), 1, 15))::UBIGINT % 64) AS INT)
               AS idx
    FROM toks
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM((idx * 37) % 64 - 32) AS BIGINT) AS score_sum64
FROM i GROUP BY doc_id ORDER BY doc_id
"""


QUERIES.update({"quality_model_docs": q_quality_model_docs})
ORACLES.update({"quality_model_docs": SQL_QUALITY_MODEL_DOCS})


def q_unigram_surprisal_docs(spark, sf_dir) -> DataFrame:
    """Per-document mean unigram surprisal (text.unigram_surprisal) —
    bits/token under the corpus's own unigram distribution, the
    model-free LM-quality proxy. Two passes: vocab counts, join +
    per-doc mean; the corpus total is one driver scalar."""
    from .operators.text import unigram_surprisal
    (d,) = _t(spark, sf_dir, "documents")
    return unigram_surprisal(d).orderBy("doc_id")


SQL_UNIGRAM_SURPRISAL_DOCS = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text),
               '[^\p{L}\p{N}]+', ' ', 'g')), ' ')) AS tok
    FROM documents WHERE text IS NOT NULL
),
vocab AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT SUM(n) AS t FROM vocab),
p AS (SELECT tok, n * 1.0 / (SELECT t FROM tot) AS p FROM vocab)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(-LOG2(p.p)), 6) AS bits_per_token
FROM toks JOIN p USING (tok)
GROUP BY doc_id ORDER BY doc_id
"""


QUERIES.update({"unigram_surprisal_docs": q_unigram_surprisal_docs})
ORACLES.update({"unigram_surprisal_docs": SQL_UNIGRAM_SURPRISAL_DOCS})


def q_bigram_surprisal_docs(spark, sf_dir) -> DataFrame:
    """Per-document mean bigram surprisal (text.bigram_surprisal) —
    bits/bigram under the corpus's own bigram MLE, the fluency rung of
    the cheap perplexity-filter ladder (unigram scores vocabulary,
    bigram scores word ORDER)."""
    from .operators.text import bigram_surprisal
    (d,) = _t(spark, sf_dir, "documents")
    return bigram_surprisal(d).orderBy("doc_id")


SQL_BIGRAM_SURPRISAL_DOCS = r"""
WITH d AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(lower(text),
               '[^\p{L}\p{N}]+', ' ', 'g')), ' ') AS t
    FROM documents WHERE text IS NOT NULL
),
bg AS (
    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
    FROM d, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    WHERE len(t) >= 2
),
cb AS (SELECT w1, w2, COUNT(*) AS n_bg FROM bg GROUP BY w1, w2),
cw AS (SELECT w1, SUM(n_bg) AS n_ctx FROM cb GROUP BY w1)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(-LOG2(n_bg * 1.0 / n_ctx)), 6) AS bits_per_bigram
FROM bg JOIN cb USING (w1, w2) JOIN cw USING (w1)
GROUP BY doc_id ORDER BY doc_id
"""


QUERIES.update({"bigram_surprisal_docs": q_bigram_surprisal_docs})
ORACLES.update({"bigram_surprisal_docs": SQL_BIGRAM_SURPRISAL_DOCS})


def q_corr_matrix_lineitem(spark, sf_dir) -> DataFrame:
    """Pairwise Pearson correlations of four lineitem numerics in ONE
    fused scan (operators.statistics.correlation_matrix): 6 corr
    aggregates ride a single pass, then stack to long form — the
    feature-redundancy profile."""
    from .operators.statistics import correlation_matrix
    (li,) = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


SQL_CORR_MATRIX_LINEITEM = """
WITH src AS (
    SELECT CAST(l_quantity AS DOUBLE) AS l_quantity,
           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
           CAST(l_discount AS DOUBLE) AS l_discount,
           CAST(l_tax AS DOUBLE) AS l_tax
    FROM lineitem)
SELECT col_a, col_b, corr FROM (
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr FROM src
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND(CORR(l_quantity, l_discount), 6) FROM src
    UNION ALL
    SELECT 'l_quantity', 'l_tax',
           ROUND(CORR(l_quantity, l_tax), 6) FROM src
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND(CORR(l_extendedprice, l_discount), 6) FROM src
    UNION ALL
    SELECT 'l_extendedprice', 'l_tax',
           ROUND(CORR(l_extendedprice, l_tax), 6) FROM src
    UNION ALL
    SELECT 'l_discount', 'l_tax',
           ROUND(CORR(l_discount, l_tax), 6) FROM src
) ORDER BY col_a, col_b
"""


QUERIES.update({"corr_matrix_lineitem": q_corr_matrix_lineitem})
ORACLES.update({"corr_matrix_lineitem": SQL_CORR_MATRIX_LINEITEM})


def q_fd_custkey_orderstatus(spark, sf_dir) -> DataFrame:
    """Functional-dependency audit (uniqueness.
    functional_dependency_summary): does o_custkey determine
    o_orderstatus? Most customers carry orders in several statuses —
    the conformance ratio quantifies how far the FD is from holding."""
    from .operators.uniqueness import functional_dependency_summary
    (o,) = _t(spark, sf_dir, "orders")
    return functional_dependency_summary(o, ["o_custkey"], "o_orderstatus")


SQL_FD_CUSTKEY_ORDERSTATUS = """
WITH g AS (
    SELECT o_custkey, COUNT(DISTINCT o_orderstatus) AS nd
    FROM orders WHERE o_custkey IS NOT NULL
    GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COUNT(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_violating,
       ROUND(1.0 - COUNT(*) FILTER (WHERE nd > 1) * 1.0
                   / GREATEST(COUNT(*), 1), 6) AS conformance
FROM g
"""


QUERIES.update({"fd_custkey_orderstatus": q_fd_custkey_orderstatus})
ORACLES.update({"fd_custkey_orderstatus": SQL_FD_CUSTKEY_ORDERSTATUS})


def q_shape_stats_quantity(spark, sf_dir) -> DataFrame:
    """Population skewness + excess kurtosis of l_quantity (the
    round-6 shape statistics) in one fused agg — tail screens for the
    profiler; oracle derives the same statistics from raw power sums
    so the engines' estimator conventions cannot diverge."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.skewness(F.col("l_quantity").cast("double")), 6)
         .alias("skew_pop"),
        F.round(F.kurtosis(F.col("l_quantity").cast("double")), 6)
         .alias("kurt_excess"))


SQL_SHAPE_STATS_QUANTITY = """
WITH s AS (
    SELECT COUNT(*) AS n,
           AVG(CAST(l_quantity AS DOUBLE)) AS m1,
           AVG(POW(CAST(l_quantity AS DOUBLE), 2)) AS r2,
           AVG(POW(CAST(l_quantity AS DOUBLE), 3)) AS r3,
           AVG(POW(CAST(l_quantity AS DOUBLE), 4)) AS r4
    FROM lineitem WHERE l_quantity IS NOT NULL
),
m AS (
    SELECT r2 - m1 * m1 AS m2,
           r3 - 3 * m1 * r2 + 2 * POW(m1, 3) AS m3,
           r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * POW(m1, 4) AS m4
    FROM s
)
SELECT ROUND(m3 / POW(m2, 1.5), 6) AS skew_pop,
       ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurt_excess
FROM m
"""


QUERIES.update({"shape_stats_quantity": q_shape_stats_quantity})
ORACLES.update({"shape_stats_quantity": SQL_SHAPE_STATS_QUANTITY})


def q_dataset_diff_orders(spark, sf_dir) -> DataFrame:
    """Snapshot diff accounting (multitable.dataset_diff): "today's"
    orders vs a derived "yesterday" — keys divisible by 97 removed,
    totalprice bumped where key % 89 == 0, a shifted-key slice added —
    the what-changed-since-the-last-load report."""
    from .operators.multitable import dataset_diff
    (o,) = _t(spark, sf_dir, "orders")
    yesterday = o
    today = (o.filter(F.col("o_orderkey") % 97 != 0)
              .withColumn("o_totalprice",
                          F.when(F.col("o_orderkey") % 89 == 0,
                                 F.col("o_totalprice") + 1.0)
                           .otherwise(F.col("o_totalprice"))))
    added = (o.filter(F.col("o_orderkey") % 101 == 0)
              .withColumn("o_orderkey",
                          F.col("o_orderkey") + F.lit(1000000000)))
    return dataset_diff(yesterday, today.unionByName(added),
                        keys=["o_orderkey"],
                        compare_cols=["o_orderstatus", "o_totalprice"])


SQL_DATASET_DIFF_ORDERS = """
WITH yesterday AS (SELECT * FROM orders),
today AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 101 = 0
),
l AS (SELECT o_orderkey,
             MIN(md5(concat_ws(chr(1),
                 COALESCE(CAST(o_orderstatus AS VARCHAR), chr(2)),
                 COALESCE(CAST(o_totalprice AS VARCHAR), chr(2)))))
                 AS h_l,
             COUNT(*) AS rows_l
      FROM yesterday GROUP BY o_orderkey),
r AS (SELECT o_orderkey,
             MIN(md5(concat_ws(chr(1),
                 COALESCE(CAST(o_orderstatus AS VARCHAR), chr(2)),
                 COALESCE(CAST(o_totalprice AS VARCHAR), chr(2)))))
                 AS h_r,
             COUNT(*) AS rows_r
      FROM today GROUP BY o_orderkey),
-- NULL-SAFE key join (IS NOT DISTINCT FROM), mirroring the operator's
-- null-safe key-fingerprint grouping: a key NULL on both sides is ONE
-- common row, not added+removed the way null-unsafe USING would count
-- it (ADVICE r7; the operator groups by an injective JSON-encoded md5
-- of the key tuple, which classifies pairs identically)
j AS (SELECT h_l, rows_l, h_r, rows_r
      FROM l FULL OUTER JOIN r
        ON l.o_orderkey IS NOT DISTINCT FROM r.o_orderkey)
SELECT CAST(COALESCE(SUM(rows_l), 0) AS BIGINT) AS n_left,
       CAST(COALESCE(SUM(rows_r), 0) AS BIGINT) AS n_right,
       CAST(COUNT(*) FILTER (WHERE h_l IS NOT NULL AND h_r IS NOT NULL)
            AS BIGINT) AS n_common,
       CAST(COUNT(*) FILTER (WHERE h_l IS NULL) AS BIGINT) AS n_added,
       CAST(COUNT(*) FILTER (WHERE h_r IS NULL) AS BIGINT) AS n_removed,
       CAST(COUNT(*) FILTER (WHERE h_l IS NOT NULL AND h_r IS NOT NULL
                             AND h_l <> h_r) AS BIGINT) AS n_changed,
       CAST(COUNT(*) FILTER (WHERE h_l = h_r) AS BIGINT) AS n_identical
FROM j
"""


QUERIES.update({"dataset_diff_orders": q_dataset_diff_orders})
ORACLES.update({"dataset_diff_orders": SQL_DATASET_DIFF_ORDERS})


def q_key_skew_custkey(spark, sf_dir) -> DataFrame:
    """Join-skew pre-flight (uniqueness.key_skew_report): would a
    shuffle keyed on orders.o_custkey melt an executor? max/top-10 key
    shares, normalized key entropy, count CV — all unordered
    aggregates over the key-count table, no global sort."""
    from .operators.uniqueness import key_skew_report
    (o,) = _t(spark, sf_dir, "orders")
    return key_skew_report(o, "o_custkey")


SQL_KEY_SKEW_CUSTKEY = """
WITH c AS (
    SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
),
t AS (SELECT SUM(cnt) AS tot, COUNT(*) AS n_keys, MAX(cnt) AS max_cnt,
             STDDEV_POP(cnt) AS sd, AVG(cnt) AS mean,
             -SUM((cnt * 1.0 / (SELECT SUM(cnt) FROM c))
                  * LN(cnt * 1.0 / (SELECT SUM(cnt) FROM c))) AS ent
      FROM c),
top AS (SELECT SUM(cnt) AS top_sum
        FROM (SELECT cnt FROM c ORDER BY cnt DESC LIMIT 10))
SELECT CAST(tot AS BIGINT) AS n_rows, CAST(n_keys AS BIGINT) AS n_keys,
       ROUND(max_cnt * 1.0 / tot, 6) AS max_key_share,
       ROUND(top_sum * 1.0 / tot, 6) AS top10_share,
       ROUND(CASE WHEN n_keys > 1 THEN ent / LN(n_keys) ELSE 1.0 END, 6)
           AS key_entropy_norm,
       ROUND(sd / mean, 6) AS count_cv
FROM t, top
"""


QUERIES.update({"key_skew_custkey": q_key_skew_custkey})
ORACLES.update({"key_skew_custkey": SQL_KEY_SKEW_CUSTKEY})


def q_brand_profile_part(spark, sf_dir) -> DataFrame:
    """Catalog-dimension profile (round 8 — first query over the PART
    table): per-brand part count, share of catalog, distinct type
    count, mean retail price and mean size.  One grouped aggregation;
    the share denominator is an unpartitioned-window sum over the
    ≤|brands| aggregated rows (bounded — never the raw table)."""
    (p,) = _t(spark, sf_dir, "part")
    from pyspark.sql import Window
    g = (p.groupBy(F.col("p_brand").alias("brand"))
          .agg(F.count(F.lit(1)).alias("n_parts"),
               F.countDistinct("p_type").alias("n_types"),
               # a decimal mean is exact; a double sum's value follows
               # the partitioning and can flip a tie at the 6th decimal
               r6(F.avg(F.col("p_retailprice").cast("decimal(25,4)")))
               .cast("double").alias("avg_price"),
               r6(F.avg(F.col("p_size").cast("double"))).alias("avg_size")))
    return (g.withColumn("share", r6(F.col("n_parts") /
                                     F.sum("n_parts").over(Window.partitionBy())))
             .orderBy(F.desc("n_parts"), F.asc("brand")))


SQL_BRAND_PROFILE_PART = """
SELECT p_brand AS brand, COUNT(*) AS n_parts,
       COUNT(DISTINCT p_type) AS n_types,
       ROUND(AVG(p_retailprice), 6) AS avg_price,
       ROUND(AVG(CAST(p_size AS DOUBLE)), 6) AS avg_size,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
FROM part GROUP BY p_brand ORDER BY n_parts DESC, brand ASC
"""


def q_supplier_stats_by_nation(spark, sf_dir) -> DataFrame:
    """Grouped statistics over a broadcast dimension join (round 8 —
    first query over the SUPPLIER table): per-nation supplier count and
    account-balance stats.  The nation dimension (25 rows at any SF)
    is broadcast, so the only shuffle is the final group on n_name."""
    s, n = _t(spark, sf_dir, "supplier", "nation")
    return (s.join(F.broadcast(n),
                   s["s_nationkey"] == n["n_nationkey"], "left")
             .groupBy(F.col("n_name").alias("nation"))
             .agg(F.count(F.lit(1)).alias("n_suppliers"),
                  # a decimal mean is exact (see q_brand_profile_part)
                  r6(F.avg(F.col("s_acctbal").cast("decimal(25,4)")))
                  .cast("double").alias("avg_acctbal"),
                  r6(F.min("s_acctbal")).alias("min_acctbal"),
                  r6(F.max("s_acctbal")).alias("max_acctbal"))
             .orderBy("nation"))


SQL_SUPPLIER_STATS_BY_NATION = """
SELECT n_name AS nation, COUNT(*) AS n_suppliers,
       ROUND(AVG(s_acctbal), 6) AS avg_acctbal,
       ROUND(MIN(s_acctbal), 6) AS min_acctbal,
       ROUND(MAX(s_acctbal), 6) AS max_acctbal
FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY nation
"""


QUERIES.update({"brand_profile_part": q_brand_profile_part,
                "supplier_stats_by_nation": q_supplier_stats_by_nation})
ORACLES.update({"brand_profile_part": SQL_BRAND_PROFILE_PART,
                "supplier_stats_by_nation": SQL_SUPPLIER_STATS_BY_NATION})


def q_shipping_priority_orders(spark, sf_dir) -> DataFrame:
    """TPC-H Q3 analogue (round 9 — the selective 3-way fact join):
    top-10 undelivered-revenue orders for one market segment.  The
    filtered customer key set joins into orders UNHINTED (a single
    pruned column — Catalyst auto-broadcasts it at any realistic SF,
    and AQE shuffles it rather than OOM when it outgrows the
    threshold), lineitem pre-aggregates per order AFTER its ship-date
    filter, and the top-k is a bounded TakeOrderedAndProject — never a
    global sort."""
    c, o, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-07-01").cast("timestamp")
    cust = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rev = (li.filter(F.col("l_shipdate") > cutoff)
             .groupBy("l_orderkey")
             .agg(F.sum((F.col("l_extendedprice") *
                         (F.lit(1.0) - F.col("l_discount")))
                        .cast("decimal(25,4)"))
                  .cast("double").alias("revenue")))
    return (o.filter(F.col("o_orderdate") < cutoff)
             .join(cust, F.col("o_custkey") == F.col("c_custkey"))
             .join(rev, F.col("o_orderkey") == F.col("l_orderkey"))
             .select(F.col("o_orderkey").alias("orderkey"),
                     r6(F.col("revenue")).alias("revenue"),
                     r6(epoch_seconds("o_orderdate")).alias("order_epoch"),
                     F.col("o_orderpriority").alias("priority"))
             .orderBy(F.desc("revenue"), "orderkey")
             .limit(10))


SQL_SHIPPING_PRIORITY_ORDERS = """
WITH rev AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(25,4))) AS DOUBLE) AS revenue
    FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey
)
SELECT o_orderkey AS orderkey, ROUND(revenue, 6) AS revenue,
       ROUND(EPOCH(o_orderdate), 6) AS order_epoch,
       o_orderpriority AS priority
FROM orders
JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
JOIN rev ON o_orderkey = l_orderkey
WHERE o_orderdate < TIMESTAMP '1998-07-01'
ORDER BY revenue DESC, orderkey LIMIT 10
"""


def q_regional_supplier_volume(spark, sf_dir) -> DataFrame:
    """TPC-H Q5 analogue (round 9 — the snowflake join): yearly
    lineitem revenue attributed through supplier → nation → region.
    The two tiny dimensions broadcast explicitly (nation 25 rows,
    region 5 at any SF); the supplier-sized dim join is deliberately
    left UNHINTED — Catalyst auto-broadcasts it below the threshold
    (true through sf1 here) and AQE falls back to a shuffled join when
    supplier outgrows it, which a forced hint would turn into an OOM
    at 100 TB."""
    o, li, s, n, r = _t(spark, sf_dir, "orders", "lineitem", "supplier",
                        "nation", "region")
    y0 = F.lit("1997-01-01").cast("timestamp")
    y1 = F.lit("1998-01-01").cast("timestamp")
    dim = (s.join(F.broadcast(n),
                  s["s_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", "n_name", "r_name"))
    ord_keys = (o.filter((F.col("o_orderdate") >= y0) &
                         (F.col("o_orderdate") < y1))
                 .select("o_orderkey"))
    return (li.join(ord_keys, li["l_orderkey"] == F.col("o_orderkey"))
              .join(dim, li["l_suppkey"] == F.col("s_suppkey"))
              .groupBy(F.col("r_name").alias("region"),
                       F.col("n_name").alias("nation"))
              .agg(F.sum((F.col("l_extendedprice") *
                          (F.lit(1.0) - F.col("l_discount")))
                         .cast("decimal(25,4)"))
                    .cast("double").alias("rev"),
                   F.count(F.lit(1)).alias("n_items"))
              .select("region", "nation", r6(F.col("rev")).alias("revenue"),
                      "n_items")
              .orderBy("region", F.desc("revenue"), "nation"))


SQL_REGIONAL_SUPPLIER_VOLUME = """
SELECT r_name AS region, n_name AS nation,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(25,4))) AS DOUBLE), 6) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate <  TIMESTAMP '1998-01-01'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY region, revenue DESC, nation
"""


def q_returned_item_customers(spark, sf_dir) -> DataFrame:
    """TPC-H Q10 analogue (round 9): top-20 customers by revenue lost
    to returned items in a quarter — returned lineitems pre-aggregate
    per order BEFORE joining orders (the fact join carries one row per
    order, not per item), the tiny nation dim broadcasts explicitly
    while customer stays unhinted (auto-broadcast under the threshold,
    AQE-shuffled above it), and the top-k is bounded."""
    c, o, li, n = _t(spark, sf_dir, "customer", "orders", "lineitem",
                     "nation")
    q0 = F.lit("1998-01-01").cast("timestamp")
    q1 = F.lit("1998-07-01").cast("timestamp")
    lost = (li.filter(F.col("l_returnflag") == "R")
              .groupBy("l_orderkey")
              .agg(F.sum((F.col("l_extendedprice") *
                          (F.lit(1.0) - F.col("l_discount")))
                         .cast("decimal(25,4)"))
                   .cast("double").alias("lost")))
    per_cust = (o.filter((F.col("o_orderdate") >= q0) &
                         (F.col("o_orderdate") < q1))
                 .join(lost, F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy("o_custkey")
                 .agg(F.sum(F.col("lost").cast("decimal(25,4)"))
                      .cast("double").alias("lost_revenue"),
                      F.count(F.lit(1)).alias("n_orders")))
    return (per_cust.join(c, F.col("o_custkey") == c["c_custkey"])
                    .join(F.broadcast(n),
                          c["c_nationkey"] == n["n_nationkey"])
                    .select(F.col("c_custkey").alias("custkey"), "c_name",
                            F.col("n_name").alias("nation"),
                            r6(F.col("lost_revenue")).alias("lost_revenue"),
                            "n_orders")
                    .orderBy(F.desc("lost_revenue"), "custkey")
                    .limit(20))


SQL_RETURNED_ITEM_CUSTOMERS = """
WITH lost AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(25,4))) AS DOUBLE) AS lost
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
),
per_cust AS (
    SELECT o_custkey,
           CAST(SUM(CAST(lost AS DECIMAL(25,4))) AS DOUBLE) AS lost_revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN lost ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate <  TIMESTAMP '1998-07-01'
    GROUP BY o_custkey
)
SELECT c_custkey AS custkey, c_name, n_name AS nation,
       ROUND(lost_revenue, 6) AS lost_revenue, n_orders
FROM per_cust
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY lost_revenue DESC, custkey LIMIT 20
"""


QUERIES.update({
    "shipping_priority_orders": q_shipping_priority_orders,
    "regional_supplier_volume": q_regional_supplier_volume,
    "returned_item_customers": q_returned_item_customers,
})
ORACLES.update({
    "shipping_priority_orders": SQL_SHIPPING_PRIORITY_ORDERS,
    "regional_supplier_volume": SQL_REGIONAL_SUPPLIER_VOLUME,
    "returned_item_customers": SQL_RETURNED_ITEM_CUSTOMERS,
})


def q_large_volume_customers(spark, sf_dir) -> DataFrame:
    """TPC-H Q18 analogue (round 11 — the HAVING-subquery join): orders
    whose total line quantity exceeds 250, joined back to customer.
    The HAVING pre-aggregate runs FIRST (map-side combined on
    l_orderkey, the fact table's natural key) and only qualifying
    orderkeys — p99-tail cardinality, thousands per billion rows —
    reach the joins, so the two dimension joins see a filtered stream
    and Catalyst/AQE broadcast them; top-k is TakeOrderedAndProject,
    never a global sort.  This is how Q18 should run at 100 TB: the
    quantity filter cannot be pushed below the agg, but the agg itself
    is the reducer."""
    c, o, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum("l_quantity").alias("sum_qty"))
             .filter(F.col("sum_qty") > 250))
    return (o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
             .join(c, F.col("o_custkey") == F.col("c_custkey"))
             .select(F.col("c_custkey").alias("custkey"),
                     F.col("o_orderkey").alias("orderkey"),
                     r6(epoch_seconds("o_orderdate")).alias("order_epoch"),
                     r6(F.col("o_totalprice")).alias("totalprice"),
                     r6(F.col("sum_qty")).alias("sum_qty"))
             .orderBy(F.desc("totalprice"), "orderkey")
             .limit(100))


SQL_LARGE_VOLUME_CUSTOMERS = """
WITH big AS (
    SELECT l_orderkey, SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
SELECT c_custkey AS custkey, o_orderkey AS orderkey,
       ROUND(EPOCH(o_orderdate), 6) AS order_epoch,
       ROUND(o_totalprice, 6) AS totalprice,
       ROUND(sum_qty, 6) AS sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, orderkey LIMIT 100
"""


def q_small_quantity_revenue(spark, sf_dir) -> DataFrame:
    """TPC-H Q17 analogue (round 11 — the correlated scalar subquery,
    decorrelated the way Catalyst itself rewrites it): per brand, the
    would-be yearly revenue of line items ordering LESS than half
    their part's average quantity.  The correlated ``avg(l_quantity)
    where l_partkey = p_partkey`` becomes one per-part aggregate
    (map-side combined on the fact's partkey) joined back to the fact
    — the self-join-of-aggregates plan every engine should reach; the
    part dimension broadcasts.  Revenue sums in decimal then rounds,
    the cross-engine float discipline every money query here uses."""
    li, p = _t(spark, sf_dir, "lineitem", "part")
    avg_q = (li.groupBy(F.col("l_partkey").alias("ap_key"))
               .agg(F.avg("l_quantity").alias("avg_qty")))
    small = (li.join(avg_q, F.col("l_partkey") == F.col("ap_key"))
               .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty")))
    return (small.join(F.broadcast(p),
                       F.col("l_partkey") == F.col("p_partkey"))
            .groupBy(F.col("p_brand").alias("brand"))
            .agg(r6(F.sum(F.col("l_extendedprice")
                          .cast("decimal(25,4)")).cast("double")
                    / F.lit(7.0)).alias("avg_yearly"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("brand"))


SQL_SMALL_QUANTITY_REVENUE = """
WITH avg_q AS (
    SELECT l_partkey AS ap_key, AVG(l_quantity) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT p_brand AS brand,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem
JOIN avg_q ON l_partkey = ap_key
JOIN part ON l_partkey = p_partkey
WHERE l_quantity < 0.5 * avg_qty
GROUP BY p_brand ORDER BY brand
"""


def q_late_shipment_priority(spark, sf_dir) -> DataFrame:
    """TPC-H Q4 analogue (round 11 — the EXISTS semi-join): count
    orders per priority that had AT LEAST ONE line item shipped more
    than 90 days after the order date.  ONE left-semi join carries
    both the equi key and the cross-table date predicate as its join
    condition — the semi-join deduplicates by construction (no
    DISTINCT pass, no join product to re-aggregate), lineitem ships
    only its two pruned columns, and the first matching line item
    short-circuits the probe.  At 100 TB this is the shape that keeps
    EXISTS from becoming a COUNT(DISTINCT) over a join product."""
    o, li = _t(spark, sf_dir, "orders", "lineitem")
    return (o.join(li.select("l_orderkey", "l_shipdate"),
                   (F.col("o_orderkey") == F.col("l_orderkey"))
                   & (F.col("l_shipdate") > F.col("o_orderdate")
                      + F.expr("INTERVAL 90 DAYS")),
                   "left_semi")
             .groupBy(F.col("o_orderpriority").alias("priority"))
             .agg(F.count(F.lit(1)).alias("order_count"))
             .orderBy("priority"))


SQL_LATE_SHIPMENT_PRIORITY = """
SELECT o_orderpriority AS priority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority ORDER BY priority
"""


QUERIES.update({
    "large_volume_customers": q_large_volume_customers,
    "small_quantity_revenue": q_small_quantity_revenue,
    "late_shipment_priority": q_late_shipment_priority,
})
ORACLES.update({
    "large_volume_customers": SQL_LARGE_VOLUME_CUSTOMERS,
    "small_quantity_revenue": SQL_SMALL_QUANTITY_REVENUE,
    "late_shipment_priority": SQL_LATE_SHIPMENT_PRIORITY,
})


def q_join_cardinality_orders_lineitem(spark, sf_dir) -> DataFrame:
    """Join-cardinality pre-flight, made driver-oracle-checkable (the
    ``q_approx_distinct_orderkey`` attestation pattern): the returned
    row is the EXACT |orders ⋈ lineitem| on orderkey, plus a
    Spark-computed attestation of the estimator's one theorem — the
    sketch lower bound (sum over co-hot keys of the two MG
    underestimates' product) can never exceed the true join size.
    The DuckDB oracle replays the exact count and pins TRUE. The
    estimator itself (multitable.estimate_join_cardinality) is the
    100 TB pre-flight: 4 bounded sketch jobs instead of running the
    join to discover it explodes."""
    from .operators.multitable import estimate_join_cardinality

    o, li = _t(spark, sf_dir, "orders", "lineitem")
    rep = estimate_join_cardinality(o, li, "o_orderkey", "l_orderkey",
                                    k=256)
    joined = o.select(F.col("o_orderkey").alias("k")).join(
        li.select(F.col("l_orderkey").alias("k")), "k")
    exact = F.count(F.lit(1))
    return joined.agg(
        exact.alias("exact_join_rows"),
        (F.lit(int(rep["lower_bound"])).cast("bigint") <= exact)
        .alias("lower_bound_ok"))


SQL_JOIN_CARDINALITY_ORDERS_LINEITEM = """
SELECT COUNT(*) AS exact_join_rows, TRUE AS lower_bound_ok
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


QUERIES.update({
    "join_cardinality_orders_lineitem": q_join_cardinality_orders_lineitem,
})
ORACLES.update({
    "join_cardinality_orders_lineitem": SQL_JOIN_CARDINALITY_ORDERS_LINEITEM,
})


def q_salted_join_sum_orders_customer(spark, sf_dir) -> DataFrame:
    """Pre-flight -> remedy composition, driver-oracle-checkable
    (round 11): ``estimate_join_cardinality`` sketches orders.o_custkey
    vs customer.c_custkey (4 bounded jobs, no join executed), then
    ``plans.skew.salted_join_on_hot_keys`` routes EXACTLY the keys the
    report names through the salted (key, salt) path and every other
    key through the plain equi-join.  The returned per-mktsegment
    order counts and exact DECIMAL price sums are computed from the
    REMEDY's plan, so the DuckDB oracle — a plain JOIN .. GROUP BY —
    proves the hot/rest split + union is lossless through an exact
    aggregate, for whatever hot-key set the sketches name on this
    partitioning (the equality holds for ANY split, which is the
    point).  Companion to the planted-explosion plan test in
    tests/test_plans.py, which additionally pins the spread."""
    from .operators.multitable import estimate_join_cardinality
    from .plans.skew import salted_join_on_hot_keys

    o, c = _t(spark, sf_dir, "orders", "customer")
    report = estimate_join_cardinality(o, c, "o_custkey", "c_custkey",
                                       k=64)
    joined = salted_join_on_hot_keys(
        o.select("o_custkey", "o_totalprice"),
        c.select("c_custkey", "c_mktsegment"),
        "o_custkey", "c_custkey", report, salts=4)
    return (joined.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(25,6)")).cast("double"), 2)
                  .alias("total_price"))
            .orderBy("c_mktsegment"))


SQL_SALTED_JOIN_SUM_ORDERS_CUSTOMER = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                  AS DOUBLE), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES.update(
    {"salted_join_sum_orders_customer": q_salted_join_sum_orders_customer})
ORACLES.update(
    {"salted_join_sum_orders_customer": SQL_SALTED_JOIN_SUM_ORDERS_CUSTOMER})


def q_funnel_events(spark, sf_dir) -> DataFrame:
    """Ordered view→click→purchase funnel over the events stream
    (round 11, operators/temporal.funnel): step i+1 counts a user only
    for an event at or after their step-i completion time, so
    out-of-order events never convert.  One conditional aggregation
    per step against the per-user completion table (user-keyed join,
    broadcastable); the oracle replays the same sequential gating in
    chained CTEs."""
    from .operators.temporal import funnel

    (ev,) = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"]).orderBy("step_index")


SQL_FUNNEL_EVENTS = """
WITH s0 AS (
    SELECT user_id AS u, MIN(ts) AS t FROM events
    WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
), s1 AS (
    SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
    JOIN s0 ON e.user_id = s0.u AND e.ts >= s0.t
    WHERE e.event_type = 'click' GROUP BY 1
), s2 AS (
    SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
    JOIN s1 ON e.user_id = s1.u AND e.ts >= s1.t
    WHERE e.event_type = 'purchase' GROUP BY 1
), c AS (
    SELECT (SELECT COUNT(*) FROM s0) AS n0,
           (SELECT COUNT(*) FROM s1) AS n1,
           (SELECT COUNT(*) FROM s2) AS n2
)
SELECT * FROM (
    SELECT 'view' AS step, CAST(0 AS INT) AS step_index,
           CAST(n0 AS BIGINT) AS n_users,
           ROUND(n0 * 1.0 / n0, 6) AS conversion_overall,
           ROUND(n0 * 1.0 / n0, 6) AS conversion_from_prev
    FROM c
    UNION ALL
    SELECT 'click', CAST(1 AS INT), CAST(n1 AS BIGINT),
           ROUND(n1 * 1.0 / n0, 6), ROUND(n1 * 1.0 / n0, 6) FROM c
    UNION ALL
    SELECT 'purchase', CAST(2 AS INT), CAST(n2 AS BIGINT),
           ROUND(n2 * 1.0 / n0, 6), ROUND(n2 * 1.0 / n1, 6) FROM c
) ORDER BY step_index
"""


def q_retention_cohorts_events(spark, sf_dir) -> DataFrame:
    """Weekly signup-cohort retention triangle (round 11,
    operators/temporal.retention_cohorts): users cohort by the
    epoch-anchored 7-day period of their first signup; a member is
    retained at offset k when ANY event lands in the k-th later
    period.  Pure codegen period arithmetic (floor(epoch/width)) — no
    calendar UDF; the oracle replays cohorting, offsets and distinct
    activity exactly."""
    from .operators.temporal import retention_cohorts

    (ev,) = _t(spark, sf_dir, "events")
    return retention_cohorts(ev, "signup")


SQL_RETENTION_COHORTS_EVENTS = """
WITH e AS (
    SELECT user_id AS u, EPOCH(ts) AS es, event_type FROM events
    WHERE ts IS NOT NULL
), coh AS (
    SELECT u, MIN(FLOOR(es / 604800.0)) AS cp FROM e
    WHERE event_type = 'signup' GROUP BY 1
), sizes AS (
    SELECT cp, COUNT(*) AS cohort_size FROM coh GROUP BY 1
), act AS (
    SELECT coh.cp, CAST(FLOOR(e.es / 604800.0) - coh.cp AS BIGINT) AS off,
           COUNT(DISTINCT e.u) AS n_active
    FROM e JOIN coh ON e.u = coh.u
    WHERE FLOOR(e.es / 604800.0) >= coh.cp
    GROUP BY 1, 2
)
SELECT CAST(cp * 604800 AS BIGINT) AS cohort_epoch,
       off AS period_offset,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       ROUND(n_active * 1.0 / cohort_size, 6) AS retention_rate
FROM act JOIN sizes USING (cp)
ORDER BY cohort_epoch, period_offset
"""


QUERIES.update({
    "funnel_events": q_funnel_events,
    "retention_cohorts_events": q_retention_cohorts_events,
})
ORACLES.update({
    "funnel_events": SQL_FUNNEL_EVENTS,
    "retention_cohorts_events": SQL_RETENTION_COHORTS_EVENTS,
})


def q_event_transitions_events(spark, sf_dir) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams (round 11, operators/temporal.event_transitions — the
    exploratory sibling of funnel_events): per (from_type, to_type) of
    consecutive same-user events, the count and P(to | from).  One
    user-partitioned LAG window + one grouped count; deterministic
    ties on (ts, event_id)."""
    from .operators.temporal import event_transitions

    (ev,) = _t(spark, sf_dir, "events")
    return event_transitions(ev)


SQL_EVENT_TRANSITIONS_EVENTS = """
WITH seq AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM events WHERE ts IS NOT NULL
), pairs AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) AS p_next
FROM pairs ORDER BY from_type, n DESC, to_type
"""


QUERIES.update({"event_transitions_events": q_event_transitions_events})
ORACLES.update({"event_transitions_events": SQL_EVENT_TRANSITIONS_EVENTS})


def q_zorder_key_orders(spark, sf_dir) -> DataFrame:
    """Morton (Z-order) clustering key over orders (round 12 —
    plans/layout.py): 8-bit equi-width buckets of (o_custkey,
    o_orderdate as epoch days) with spans measured in one exact
    min/max agg, bits interleaved into one bigint — the key
    ``write_zordered`` range-partitions on so every output file covers
    a small (customer × date) rectangle and parquet footer stats prune
    range predicates on EITHER column.  The key is pure integer/double
    arithmetic by design (equi-width, not rank-based), so the oracle
    replays it bit-for-bit; ``test_layout.py`` proves the pruning
    claim the key exists for (a 25% box on the non-lead dimension
    overlaps ≤ half the files that a linear sort does)."""
    from .plans.layout import measure_spans, zorder_key

    (o,) = _t(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey", "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date")).alias("o_days"))
    spans = measure_spans(d, ["o_custkey", "o_days"])
    return (d.select("o_orderkey",
                     zorder_key(["o_custkey", "o_days"], spans, bits=8)
                     .alias("zkey"))
            .orderBy("o_orderkey"))


_Z_TERMS = " + ".join(
    f"(((b{j} >> {b}) & 1) << {b * 2 + j})"
    for b in range(8) for j in (0, 1))

SQL_ZORDER_KEY_ORDERS = f"""
WITH d AS (
  SELECT o_orderkey, o_custkey,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS o_days
  FROM orders),
s AS (SELECT MIN(o_custkey)::DOUBLE AS mn0, MAX(o_custkey)::DOUBLE AS mx0,
             MIN(o_days)::DOUBLE AS mn1, MAX(o_days)::DOUBLE AS mx1
      FROM d),
bk AS (
  SELECT o_orderkey,
         LEAST(255, GREATEST(0, CAST(FLOOR((o_custkey - mn0) * 256.0
                                           / (mx0 - mn0 + 1.0)) AS BIGINT)))
             AS b0,
         LEAST(255, GREATEST(0, CAST(FLOOR((o_days - mn1) * 256.0
                                           / (mx1 - mn1 + 1.0)) AS BIGINT)))
             AS b1
  FROM d CROSS JOIN s)
SELECT o_orderkey, CAST({_Z_TERMS} AS BIGINT) AS zkey
FROM bk ORDER BY o_orderkey
"""


QUERIES.update({"zorder_key_orders": q_zorder_key_orders})
ORACLES.update({"zorder_key_orders": SQL_ZORDER_KEY_ORDERS})


def q_waiting_suppliers(spark, sf_dir) -> DataFrame:
    """TPC-H Q21 analogue (round 12 — the double-correlated-subquery
    decorrelation, with lateness proxied by l_shipdate > o_orderdate +
    90 days since the trimmed schema carries no commit/receipt dates):
    suppliers who were the SOLE late supplier on a multi-supplier
    order.  The textbook form is EXISTS (another supplier on the
    order) AND NOT EXISTS (another LATE supplier on the order) — two
    correlated self-joins of the fact table.  The Spark-first form
    decorrelates BOTH subqueries into ONE grouped pass: per order,
    count distinct suppliers overall and distinct late suppliers; a
    late line qualifies iff its order has ≥ 2 suppliers and exactly 1
    late one (necessarily this supplier).  One shuffle on l_orderkey
    replaces two lineitem×lineitem joins — the decorrelation that
    keeps Q21 from being the benchmark's slowest query at 100 TB; the
    oracle runs the literal EXISTS/NOT-EXISTS formulation, so the
    rewrite is proven semantics-preserving, not assumed."""
    o, li, s = _t(spark, sf_dir, "orders", "lineitem", "supplier")
    lines = (li.select("l_orderkey", "l_suppkey", "l_shipdate")
             .join(o.select("o_orderkey", "o_orderdate"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .withColumn("is_late",
                         F.col("l_shipdate") > F.col("o_orderdate")
                         + F.expr("INTERVAL 90 DAYS")))
    # collapse to the (order, supplier) grain FIRST — one plain hash
    # agg — so the per-order counts below are ordinary count/count_if,
    # NOT a two-distinct aggregate (whose Expand plan triples the
    # shuffle; the catalog-wide plan gate rejects it)
    per_supp = (lines.groupBy("l_orderkey", "l_suppkey")
                .agg(F.max("is_late").alias("late")))
    # the sole late supplier's IDENTITY rides the same per-order
    # aggregate (max over a late-only conditional — well-defined
    # exactly in the n_late_supp == 1 rows we keep), so the grain
    # table is consumed ONCE: round 12 joined per_supp back to
    # per_order, which re-executed the fact-sized lineitem⨝orders
    # join + grain agg on both branches (measured ~2× the whole
    # query's cost at sf10 — round 13)
    per_order = (per_supp.groupBy("l_orderkey")
                 .agg(F.count(F.lit(1)).alias("n_supp"),
                      F.count_if("late").alias("n_late_supp"),
                      F.max(F.when(F.col("late"), F.col("l_suppkey")))
                      .alias("late_supp")))
    waiting = per_order.filter((F.col("n_supp") >= 2)
                               & (F.col("n_late_supp") == 1))
    return (waiting.groupBy(F.col("late_supp").alias("l_suppkey"))
            .agg(F.count(F.lit(1)).alias("numwait"))
            .join(F.broadcast(s.select("s_suppkey", "s_name")),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_name", "numwait")
            .orderBy(F.col("numwait").desc(), "s_name")
            .limit(20))


SQL_WAITING_SUPPLIERS = """
WITH late AS (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM lineitem l1 JOIN orders o ON l1.l_orderkey = o_orderkey
  WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late t JOIN supplier ON s_suppkey = t.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = t.l_orderkey
      AND l2.l_suppkey <> t.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
           JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
    WHERE l3.l_orderkey = t.l_orderkey
      AND l3.l_suppkey <> t.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q_global_sales_opportunity(spark, sf_dir) -> DataFrame:
    """TPC-H Q22 analogue (round 12 — scalar subquery + anti-join,
    with the country code derived from c_nationkey since the trimmed
    schema carries no phone column): count and total balance of
    customers in selected "codes" whose balance exceeds the average
    positive balance of those codes AND who have never ordered.  The
    Spark-first shape: the scalar average is one 1-row aggregate
    cross-joined as a broadcast literal (no correlated re-evaluation),
    and NOT EXISTS(orders) is one left-anti join on the join key —
    customer never widens, orders ships one column.  The oracle runs
    the literal scalar-subquery + NOT EXISTS formulation."""
    c, o = _t(spark, sf_dir, "customer", "orders")
    codes = [1, 3, 5, 7, 9, 11, 13]
    sel = (c.withColumn("cntrycode", F.col("c_nationkey") % 15)
           .filter(F.col("cntrycode").isin(codes)))
    avg_bal = sel.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg"))
    rich = (sel.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("__avg")))
    no_orders = rich.join(o.select("o_custkey"),
                          F.col("c_custkey") == F.col("o_custkey"),
                          "left_anti")
    return (no_orders.groupBy("cntrycode")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
            .orderBy("cntrycode"))


SQL_GLOBAL_SALES_OPPORTUNITY = """
SELECT c_nationkey % 15 AS cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_nationkey % 15 IN (1, 3, 5, 7, 9, 11, 13)
  AND c_acctbal > (
      SELECT AVG(c_acctbal) FROM customer
      WHERE c_acctbal > 0 AND c_nationkey % 15 IN (1, 3, 5, 7, 9, 11, 13))
  AND NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY cntrycode ORDER BY cntrycode
"""


QUERIES.update({
    "waiting_suppliers": q_waiting_suppliers,
    "global_sales_opportunity": q_global_sales_opportunity,
})
ORACLES.update({
    "waiting_suppliers": SQL_WAITING_SUPPLIERS,
    "global_sales_opportunity": SQL_GLOBAL_SALES_OPPORTUNITY,
})


# ---------------------------------------------------------------------------
# round 13: the remaining partsupp-free TPC-H analogues (Q6/Q7/Q8/Q9/
# Q13/Q14/Q15/Q19) — closing the suite over the tables the testdata
# ships (Q2/Q11/Q16/Q20 need partsupp, which the generator does not
# emit; see COVERAGE.md).  Shared conventions: money sums go through
# DECIMAL(25,4) so addition is order-free and engine-exact, outputs
# round to 6, every query ends in a total order.
# ---------------------------------------------------------------------------

def q_forecast_revenue_change(spark, sf_dir) -> DataFrame:
    """TPC-H Q6 analogue: revenue a blanket discount-policy change
    would have freed — one filter + one scalar aggregate, the query
    whose ENTIRE cost is the scan.  All three predicates sit in
    PushedFilters at the parquet scan and only three columns are read;
    on a 100 TB lineitem this is min/max row-group pruning on
    l_shipdate plus a map-only partial sum — no shuffle wider than one
    row per task."""
    (li,) = _t(spark, sf_dir, "lineitem")
    y0 = F.lit("1996-01-01").cast("timestamp")
    y1 = F.lit("1997-01-01").cast("timestamp")
    return (li.filter((F.col("l_shipdate") >= y0) & (F.col("l_shipdate") < y1)
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
              .agg(r6(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                            .cast("decimal(25,4)")).cast("double"))
                   .alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


SQL_FORECAST_REVENUE_CHANGE = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,4)))
             AS DOUBLE), 6) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_volume_shipping(spark, sf_dir) -> DataFrame:
    """TPC-H Q7 analogue: bilateral shipping revenue between two
    nations by ship year.  Spark-first shape: each nation filter lands
    on its OWN dimension branch before any fact join (supplier and
    customer each shrink to ~1/25 and then ~2 names), nation
    broadcasts explicitly (25 rows), the supplier/customer joins stay
    unhinted (auto-broadcast at any realistic SF, AQE shuffle
    fallback), and the pair predicate is applied on the two already-
    joined name columns — lineitem is touched exactly once."""
    li, o, c, s, n = _t(spark, sf_dir, "lineitem", "orders", "customer",
                        "supplier", "nation")
    n1, n2 = "NATION_11", "NATION_20"
    y0 = F.lit("1995-01-01").cast("timestamp")
    y1 = F.lit("1997-01-01").cast("timestamp")
    sn = (s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
           .select("s_suppkey", F.col("n_name").alias("supp_nation"))
           .filter(F.col("supp_nation").isin(n1, n2)))
    cn = (c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
           .select("c_custkey", F.col("n_name").alias("cust_nation"))
           .filter(F.col("cust_nation").isin(n1, n2)))
    j = (li.filter((F.col("l_shipdate") >= y0) & (F.col("l_shipdate") < y1))
           .join(o.select("o_orderkey", "o_custkey"),
                 li["l_orderkey"] == F.col("o_orderkey"))
           .join(cn, F.col("o_custkey") == F.col("c_custkey"))
           .join(sn, li["l_suppkey"] == F.col("s_suppkey"))
           .filter(((F.col("supp_nation") == n1)
                    & (F.col("cust_nation") == n2))
                   | ((F.col("supp_nation") == n2)
                      & (F.col("cust_nation") == n1))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("l_year"))
             .agg(r6(F.sum((F.col("l_extendedprice")
                            * (F.lit(1.0) - F.col("l_discount")))
                           .cast("decimal(25,4)")).cast("double"))
                  .alias("revenue"))
             .orderBy("supp_nation", "cust_nation", "l_year"))


SQL_VOLUME_SHIPPING = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       EXTRACT(YEAR FROM l_shipdate) AS l_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(25,4))) AS DOUBLE), 6) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND ((sn.n_name = 'NATION_11' AND cn.n_name = 'NATION_20')
       OR (sn.n_name = 'NATION_20' AND cn.n_name = 'NATION_11'))
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_national_market_share(spark, sf_dir) -> DataFrame:
    """TPC-H Q8 analogue: NATION_5's share of ECONOMY-part revenue
    sold into ASIA-region customers, by order year.  The share is
    num/den of two DECIMAL-exact sums computed in ONE grouped pass
    (a conditional sum, not a second scan); part is filtered to one
    type before joining so the fact join is against the pruned key
    set; nation/region broadcast explicitly."""
    li, o, c, s, n, r, p = _t(spark, sf_dir, "lineitem", "orders",
                              "customer", "supplier", "nation", "region",
                              "part")
    y0 = F.lit("1995-01-01").cast("timestamp")
    y1 = F.lit("1997-01-01").cast("timestamp")
    pk = p.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    cust_region = (c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
                    .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                          F.col("n_regionkey") == F.col("r_regionkey"))
                    .select("c_custkey"))
    supp_nation = (s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
                    .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) \
        .cast("decimal(25,4)")
    j = (li.join(pk, li["l_partkey"] == F.col("p_partkey"))
           .join(o.filter((F.col("o_orderdate") >= y0)
                          & (F.col("o_orderdate") < y1))
                  .select("o_orderkey", "o_custkey", "o_orderdate"),
                 li["l_orderkey"] == F.col("o_orderkey"))
           .join(cust_region, F.col("o_custkey") == F.col("c_custkey"))
           .join(supp_nation, li["l_suppkey"] == F.col("s_suppkey")))
    g = (j.groupBy(F.year("o_orderdate").alias("o_year"))
          .agg(F.sum(F.when(F.col("supp_nation") == "NATION_5", vol)
                     .otherwise(F.lit(0).cast("decimal(25,4)")))
               .cast("double").alias("__num"),
               F.sum(vol).cast("double").alias("__den")))
    return (g.select("o_year",
                     r6(F.col("__num") / F.col("__den")).alias("mkt_share"))
             .orderBy("o_year"))


SQL_NATIONAL_MARKET_SHARE = """
WITH j AS (
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
           CAST(l_extendedprice * (1.0 - l_discount)
                AS DECIMAL(25,4)) AS vol,
           sn.n_name AS supp_nation
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
)
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol
                           ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share
FROM j GROUP BY o_year ORDER BY o_year
"""


def q_product_profit_by_nation(spark, sf_dir) -> DataFrame:
    """TPC-H Q9 analogue: per (supplier nation, order year) revenue on
    parts whose name contains 'widget' (the trimmed schema has no
    partsupp, so profit is proxied by discounted revenue — the join
    topology, which is what Q9 exercises, is unchanged).  The p_name
    LIKE filter prunes part BEFORE the fact join; nation broadcasts;
    the single wide shuffle is the final (nation, year) aggregate."""
    li, o, s, n, p = _t(spark, sf_dir, "lineitem", "orders", "supplier",
                        "nation", "part")
    pk = p.filter(F.col("p_name").contains("widget")).select("p_partkey")
    sn = (s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
           .select("s_suppkey", F.col("n_name").alias("nation")))
    j = (li.join(pk, li["l_partkey"] == F.col("p_partkey"))
           .join(o.select("o_orderkey", "o_orderdate"),
                 li["l_orderkey"] == F.col("o_orderkey"))
           .join(sn, li["l_suppkey"] == F.col("s_suppkey")))
    return (j.groupBy("nation", F.year("o_orderdate").alias("o_year"))
             .agg(r6(F.sum((F.col("l_extendedprice")
                            * (F.lit(1.0) - F.col("l_discount")))
                           .cast("decimal(25,4)")).cast("double"))
                  .alias("sum_profit"))
             .orderBy("nation", F.desc("o_year")))


SQL_PRODUCT_PROFIT_BY_NATION = """
SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(25,4))) AS DOUBLE), 6) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q_customer_order_distribution(spark, sf_dir) -> DataFrame:
    """TPC-H Q13 analogue: the distribution of per-customer order
    counts INCLUDING never-ordered customers (the left join is the
    point — an inner join silently drops the zero bucket, the most
    interesting row), excluding urgent orders via a JOIN-time
    predicate (a WHERE would turn the left join inner).  Two
    aggregations: per-customer count on the join key, then the
    bounded count-of-counts."""
    c, o = _t(spark, sf_dir, "customer", "orders")
    per_cust = (c.select("c_custkey")
                 .join(o.filter(F.col("o_orderpriority") != "1-URGENT")
                        .select("o_custkey", "o_orderkey"),
                       F.col("c_custkey") == F.col("o_custkey"), "left")
                 .groupBy("c_custkey")
                 .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q_promo_revenue(spark, sf_dir) -> DataFrame:
    """TPC-H Q14 analogue: the PROMO share of one ship-month's revenue
    as a percentage.  One fact scan with the month filter pushed down,
    one part join (unhinted — auto-broadcast until part outgrows the
    threshold), numerator and denominator in the SAME single-row
    aggregate via a conditional sum."""
    li, p = _t(spark, sf_dir, "lineitem", "part")
    m0 = F.lit("1996-03-01").cast("timestamp")
    m1 = F.lit("1996-04-01").cast("timestamp")
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) \
        .cast("decimal(25,4)")
    j = (li.filter((F.col("l_shipdate") >= m0) & (F.col("l_shipdate") < m1))
           .join(p.select("p_partkey", "p_type"),
                 li["l_partkey"] == F.col("p_partkey")))
    g = j.agg(F.sum(F.when(F.col("p_type") == "PROMO", vol)
                    .otherwise(F.lit(0).cast("decimal(25,4)")))
              .cast("double").alias("__num"),
              F.sum(vol).cast("double").alias("__den"))
    return g.select(
        r6(F.lit(100.0) * F.col("__num") / F.col("__den"))
        .alias("promo_revenue_pct"))


SQL_PROMO_REVENUE = """
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(25,4))
                   ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(25,4))) AS DOUBLE), 6)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
"""


def q_top_supplier_revenue(spark, sf_dir) -> DataFrame:
    """TPC-H Q15 analogue: the supplier(s) whose one-quarter revenue
    equals the maximum (the classic view + scalar-max query).  The
    per-supplier revenue aggregates once; the scalar max is a 1-row
    aggregate broadcast back as a cross join — no correlated
    re-evaluation, no second fact scan (localCheckpoint pins the
    aggregate so max and filter read the SAME computed table).
    Equality on the DECIMAL-exact sums is engine-portable because
    both sides are the same exact value, not a float accumulation."""
    li, s = _t(spark, sf_dir, "lineitem", "supplier")
    q0 = F.lit("1996-01-01").cast("timestamp")
    q1 = F.lit("1996-04-01").cast("timestamp")
    rev = (li.filter((F.col("l_shipdate") >= q0) & (F.col("l_shipdate") < q1))
             .groupBy("l_suppkey")
             .agg(F.sum((F.col("l_extendedprice")
                         * (F.lit(1.0) - F.col("l_discount")))
                        .cast("decimal(25,4)")).cast("double")
                  .alias("total_revenue"))).localCheckpoint(eager=False)
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (rev.crossJoin(F.broadcast(mx))
               .filter(F.col("total_revenue") == F.col("__mx"))
               .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
               .select(F.col("s_suppkey").alias("suppkey"),
                       F.col("s_name").alias("supp_name"),
                       r6(F.col("total_revenue")).alias("total_revenue"))
               .orderBy("suppkey"))


SQL_TOP_SUPPLIER_REVENUE = """
WITH rev AS (
    SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(25,4))) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey AS suppkey, s_name AS supp_name,
       ROUND(total_revenue, 6) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY suppkey
"""


def q_discounted_revenue_brands(spark, sf_dir) -> DataFrame:
    """TPC-H Q19 analogue: revenue under three disjunctive
    (brand, size-range, quantity-range) windows — the query that
    tests OR-of-ANDs predicate handling.  Spark evaluates the
    disjunction AFTER the single part join (part pre-pruned to the
    union of the three brand/size boxes, so the join key set is
    small); nothing scans twice and no union of three plans is
    needed."""
    li, p = _t(spark, sf_dir, "lineitem", "part")
    pp = (p.filter(((F.col("p_brand") == "Brand#1")
                    & F.col("p_size").between(1, 10))
                   | ((F.col("p_brand") == "Brand#2")
                      & F.col("p_size").between(1, 20))
                   | ((F.col("p_brand") == "Brand#3")
                      & F.col("p_size").between(1, 30)))
            .select("p_partkey", "p_brand"))
    j = (li.join(pp, li["l_partkey"] == F.col("p_partkey"))
           .filter(((F.col("p_brand") == "Brand#1")
                    & F.col("l_quantity").between(1, 15))
                   | ((F.col("p_brand") == "Brand#2")
                      & F.col("l_quantity").between(10, 25))
                   | ((F.col("p_brand") == "Brand#3")
                      & F.col("l_quantity").between(20, 35))))
    return j.agg(
        r6(F.sum((F.col("l_extendedprice")
                  * (F.lit(1.0) - F.col("l_discount")))
                 .cast("decimal(25,4)")).cast("double")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


SQL_DISCOUNTED_REVENUE_BRANDS = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(25,4))) AS DOUBLE), 6) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 35)
"""


def q_benford_totalprice(spark, sf_dir) -> DataFrame:
    """Benford per-digit dashboard of o_totalprice (round 13 —
    operators/drift.py benford_deviation, the WHICH-DIGIT companion
    to the benford_acctbal gate row): per leading digit the count,
    observed share, the expectation log10(1 + 1/d) as shared literals,
    the absolute deviation, and the 3σ binomial band verdict.  Digit
    extraction is the family's BenfordConstraint.first_digit
    (floor/log10 clamped 1..9), identical to benford_acctbal's
    oracle arithmetic."""
    from .operators.drift import benford_deviation
    (o,) = _t(spark, sf_dir, "orders")
    return benford_deviation(o, "o_totalprice")


def _benford_oracle_sql() -> str:
    from .operators.drift import BENFORD_EXPECTED
    cases = " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in sorted(BENFORD_EXPECTED.items()))
    return f"""
WITH base AS (
    SELECT GREATEST(1, LEAST(9, CAST(FLOOR(ABS(o_totalprice) /
               POW(10.0, FLOOR(LOG10(ABS(o_totalprice))))) AS INT))) AS digit
    FROM orders WHERE o_totalprice IS NOT NULL AND ABS(o_totalprice) > 0
), counts AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY digit
), tot AS (SELECT COUNT(*) AS total FROM base)
SELECT CAST(digit AS BIGINT) AS digit, n,
       ROUND(n / CAST(total AS DOUBLE), 6) AS observed,
       ROUND(exp, 6) AS expected,
       ROUND(ABS(n / CAST(total AS DOUBLE) - exp), 6) AS abs_dev,
       ABS(n / CAST(total AS DOUBLE) - exp)
           <= 3.0 * SQRT(exp * (1.0 - exp) / total) AS within_band
FROM (SELECT digit, n, total,
             CASE digit {cases} END AS exp
      FROM counts CROSS JOIN tot)
ORDER BY digit
"""


SQL_BENFORD_TOTALPRICE = _benford_oracle_sql()


QUERIES.update({
    "forecast_revenue_change": q_forecast_revenue_change,
    "volume_shipping": q_volume_shipping,
    "national_market_share": q_national_market_share,
    "product_profit_by_nation": q_product_profit_by_nation,
    "customer_order_distribution": q_customer_order_distribution,
    "promo_revenue": q_promo_revenue,
    "top_supplier_revenue": q_top_supplier_revenue,
    "discounted_revenue_brands": q_discounted_revenue_brands,
    "benford_totalprice": q_benford_totalprice,
})
ORACLES.update({
    "forecast_revenue_change": SQL_FORECAST_REVENUE_CHANGE,
    "volume_shipping": SQL_VOLUME_SHIPPING,
    "national_market_share": SQL_NATIONAL_MARKET_SHARE,
    "product_profit_by_nation": SQL_PRODUCT_PROFIT_BY_NATION,
    "customer_order_distribution": SQL_CUSTOMER_ORDER_DISTRIBUTION,
    "promo_revenue": SQL_PROMO_REVENUE,
    "top_supplier_revenue": SQL_TOP_SUPPLIER_REVENUE,
    "discounted_revenue_brands": SQL_DISCOUNTED_REVENUE_BRANDS,
    "benford_totalprice": SQL_BENFORD_TOTALPRICE,
})


# ---------------------------------------------------------------------------
# round 13, second wave: fuzzy key matching (entity-resolution blocking)
# and the equi-depth histogram
# ---------------------------------------------------------------------------

def q_fuzzy_name_pairs_part(spark, sf_dir) -> DataFrame:
    """Blocked fuzzy key pairs over part names (round 13 —
    operators/fuzzy.py): the record-linkage screen for NAME columns —
    matching runs on the distinct-value DICTIONARY (64 names here; a
    100 TB fact with 50k brand strings pairs 50k rows, not 100 TB),
    candidates form only within the last-token block (an equi-join,
    no cartesian), and the distance is Spark's builtin levenshtein —
    JVM codegen, no UDF.  The oracle replays dictionary, blocking and
    edit distance in DuckDB (same classical Levenshtein)."""
    from .operators.fuzzy import blocked_fuzzy_pairs
    (p,) = _t(spark, sf_dir, "part")
    return blocked_fuzzy_pairs(p, "p_name", max_distance=3)


SQL_FUZZY_NAME_PAIRS_PART = r"""
WITH d AS (
    SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n
    FROM part WHERE p_name IS NOT NULL GROUP BY p_name
), b AS (
    SELECT name, n,
           list_extract(string_split_regex(trim(name), '\s+'), -1) AS blk
    FROM d
)
SELECT a.name AS name_a, c.name AS name_b,
       CAST(levenshtein(a.name, c.name) AS BIGINT) AS distance,
       a.n AS n_a, c.n AS n_b
FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
WHERE levenshtein(a.name, c.name) <= 3
ORDER BY name_a, name_b
"""


def q_fuzzy_canonical_part(spark, sf_dir) -> DataFrame:
    """Greedy fuzzy canonicalization of part names (round 13 —
    operators/fuzzy.py): each name maps to the most frequent name
    within edit distance 3 in its block, ties by smallest name — the
    one-hop cleanup that repairs fragmented groupBy/join keys without
    transitively merging unlike values (full transitive clustering is
    the union-find tier's job).  Deterministic election: max count,
    then min name; the oracle replays dictionary, candidates and both
    election passes."""
    from .operators.fuzzy import fuzzy_canonicalize
    (p,) = _t(spark, sf_dir, "part")
    return fuzzy_canonicalize(p, "p_name", max_distance=3)


SQL_FUZZY_CANONICAL_PART = r"""
WITH d AS (
    SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n
    FROM part WHERE p_name IS NOT NULL GROUP BY p_name
), b AS (
    SELECT name, n,
           list_extract(string_split_regex(trim(name), '\s+'), -1) AS blk
    FROM d
), cand AS (
    SELECT a.name, a.n, c.name AS cand, c.n AS cand_n
    FROM b a JOIN b c ON a.blk = c.blk
    WHERE levenshtein(a.name, c.name) <= 3
), win AS (
    SELECT name, n, MAX(cand_n) AS win_n FROM cand GROUP BY name, n
)
SELECT c.name AS name, MIN(c.cand) AS canonical, w.n,
       w.win_n AS canonical_n
FROM cand c JOIN win w ON c.name = w.name AND c.cand_n = w.win_n
GROUP BY c.name, w.n, w.win_n
ORDER BY name
"""


def q_equidepth_price_histogram(spark, sf_dir) -> DataFrame:
    """Equi-depth histogram of l_extendedprice, 8 buckets (round 13 —
    operators/histogram.equidepth_histogram): edges are EXACT
    interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont` at rank (n−1)p — the quantile_exact_quantity
    contract), buckets are [lo, hi) with the last closed, counts
    exact.  Shape: one exact-percentile pass + one map-only
    CASE-bucketed grouped count over ≤ 8 keys; repeated edges
    (discrete data) yield empty spans deterministically on both
    engines because sorted half-open spans never overlap."""
    from .operators.histogram import equidepth_histogram
    (li,) = _t(spark, sf_dir, "lineitem")
    return equidepth_histogram(li, "l_extendedprice", buckets=8)


SQL_EQUIDEPTH_PRICE_HISTOGRAM = """
WITH v AS (
    SELECT CAST(l_extendedprice AS DOUBLE) AS v
    FROM lineitem WHERE l_extendedprice IS NOT NULL
), e AS (
    SELECT quantile_cont(v, [0.0, 0.125, 0.25, 0.375, 0.5,
                             0.625, 0.75, 0.875, 1.0]) AS edges,
           COUNT(*) AS total
    FROM v
), spans AS (
    SELECT i AS bucket, CAST(edges[i + 1] AS DOUBLE) AS lo,
           CAST(edges[i + 2] AS DOUBLE) AS hi, total
    FROM e CROSS JOIN generate_series(0, 7) t(i)
), counted AS (
    SELECT s.bucket, s.lo, s.hi, s.total, COUNT(v.v) AS n
    FROM spans s LEFT JOIN v
      ON v.v >= s.lo AND (v.v < s.hi OR (s.bucket = 7 AND v.v <= s.hi))
    GROUP BY s.bucket, s.lo, s.hi, s.total
)
SELECT CAST(bucket AS BIGINT) AS bucket, lo, hi,
       CAST(n AS BIGINT) AS n,
       ROUND(n / CAST(total AS DOUBLE), 6) AS share
FROM counted ORDER BY bucket
"""


def q_equidepth_from_grid_price(spark, sf_dir) -> DataFrame:
    """Equi-depth histogram SERVED FROM THE PERSISTED QUANTILE-GRID
    TIER (round 14, verdict ask #5 — the approximate fast path the
    exact operator's docstring promises, now a code path +
    driver-proven lifecycle): l_extendedprice is sketched shard-wise
    into a scratch quantile index (corpus = 3/4 of lineitem, batch =
    the rest, appended — the tier's ingest discipline), then
    ``equidepth_histogram_from_index`` probes 9 approximate edges from
    the kilobyte grid and takes ONE exact map-only CASE count over the
    table — no exact-percentile sort pass ever runs.

    Per bucket the row carries what an oracle CAN replay — the EXACT
    interpolated-percentile edges (Spark ``percentile`` == DuckDB
    ``quantile_cont``) and the exact population — plus three
    Spark-verified attestations the oracle pins TRUE:

    * ``edge_attested`` — both of the bucket's probed edges rank-check
      inside the tier's two-merge-level band 2*(2/k + 1/accuracy)
      against the exact data (quantile_index_report; a lost shard or
      double append trips it);
    * ``depth_within_band`` — the bucket's exact count lands within
      twice that band of the ideal 1/buckets share (each bucket has
      two independently-erring edges);
    * ``counts_complete`` — Σn over the approx-edge buckets equals the
      exact non-null population (the unbounded outer buckets make
      this structural; a regression drops rows and trips it)."""
    from .analyzers.quantile_index import (DEFAULT_ACCURACY, DEFAULT_K,
                                           build_quantile_index)
    from .operators.histogram import equidepth_histogram_from_index

    from concurrent.futures import ThreadPoolExecutor

    (li,) = _t(spark, sf_dir, "lineitem")
    buckets = 8
    probs = [i / buckets for i in range(buckets + 1)]
    # ONE array-percentile aggregate for the oracle-replayable exact
    # edges: nine scalar F.percentile(v, p) calls in one agg each buffer
    # and sort independently (measured 21.5 s vs 4.5 s at sf0.1 — the
    # difference was the whole row's cost problem); rounding stays
    # Spark-side (HALF_UP) via transform.  The agg is independent of
    # the index lifecycle, so it runs CONCURRENTLY with the builds +
    # serve (guide-§2.6 job overlap: its single-reducer percentile
    # merge back-fills cores the lifecycle's tails leave idle).
    def _exact_edges():
        return li.filter(F.col("l_extendedprice").isNotNull()).agg(
            F.count(F.lit(1)).alias("__n"),
            F.transform(
                F.expr("percentile(cast(l_extendedprice as double), "
                       f"array({', '.join(map(repr, probs))}))"),
                lambda e: F.round(e, 6)).alias("__edges")).collect()[0]

    with scratch_dir() as tmp:
        with ThreadPoolExecutor(max_workers=1) as pool:
            exact_fut = pool.submit(_exact_edges)
            build_quantile_index(li.filter(F.col("l_orderkey") % 4 != 0),
                                 ["l_extendedprice"], tmp)
            build_quantile_index(li.filter(F.col("l_orderkey") % 4 == 0),
                                 ["l_extendedprice"], tmp, mode="append")
            hist = equidepth_histogram_from_index(
                li, "l_extendedprice", tmp, buckets=buckets).collect()
            exact = exact_fut.result()
    total = sum(r["n"] for r in hist)
    edges = [float(e) for e in exact["__edges"]]
    band = 2.0 * 2.0 * (2.0 / DEFAULT_K + 1.0 / DEFAULT_ACCURACY)
    rows = [(int(r["bucket"]),
             edges[r["bucket"]],
             edges[r["bucket"] + 1],
             int(exact["__n"]),
             bool(r["edge_within_bound"]),
             abs(r["share"] - 1.0 / buckets) <= band,
             total == int(exact["__n"]))
            for r in hist]
    return local_df(
        spark,
        rows,
        "bucket bigint, lo_exact double, hi_exact double, n_total bigint, "
        "edge_attested boolean, depth_within_band boolean, "
        "counts_complete boolean").orderBy("bucket")


SQL_EQUIDEPTH_FROM_GRID_PRICE = """
WITH v AS (
    SELECT CAST(l_extendedprice AS DOUBLE) AS v
    FROM lineitem WHERE l_extendedprice IS NOT NULL
), e AS (
    SELECT quantile_cont(v, [0.0, 0.125, 0.25, 0.375, 0.5,
                             0.625, 0.75, 0.875, 1.0]) AS edges,
           COUNT(*) AS total
    FROM v
)
SELECT CAST(i AS BIGINT) AS bucket,
       ROUND(edges[i + 1], 6) AS lo_exact,
       ROUND(edges[i + 2], 6) AS hi_exact,
       CAST(total AS BIGINT) AS n_total,
       TRUE AS edge_attested,
       TRUE AS depth_within_band,
       TRUE AS counts_complete
FROM e CROSS JOIN generate_series(0, 7) t(i)
ORDER BY bucket
"""


QUERIES.update({
    "fuzzy_name_pairs_part": q_fuzzy_name_pairs_part,
    "fuzzy_canonical_part": q_fuzzy_canonical_part,
    "equidepth_price_histogram": q_equidepth_price_histogram,
    "equidepth_from_grid_price": q_equidepth_from_grid_price,
})
ORACLES.update({
    "fuzzy_name_pairs_part": SQL_FUZZY_NAME_PAIRS_PART,
    "fuzzy_canonical_part": SQL_FUZZY_CANONICAL_PART,
    "equidepth_price_histogram": SQL_EQUIDEPTH_PRICE_HISTOGRAM,
    "equidepth_from_grid_price": SQL_EQUIDEPTH_FROM_GRID_PRICE,
})


#: Queries with no DuckDB oracle by design; tests/test_docs.py requires
#: every registered query to have an oracle or be named here, and
#: tests/test_oracle_parity.py checks every oracle.  Empty since round 9:
#: approx_distinct_orderkey became checkable by returning the exact
#: count plus a Spark-side within_tolerance attestation.
NO_ORACLE = frozenset()
