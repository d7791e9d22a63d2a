"""Named TPC-H queries (Q1, Q3, Q5, Q6, Q18), adapted to the synthetic
tables' slimmed schemas, expressed through the SQL ENTRY POINT.

Everything else in the registry drives the DataFrame API; these five go
through ``spark.sql`` over registered views — the second §3 lifecycle
entry point — with the SAME query text (modulo the date-format function
name) running on both engines. That makes them the closest thing to a
portability gate: the text a warehouse user would actually type.

Float discipline: revenue expressions are integer-cents arithmetic BEFORE
aggregation — ``price_cents * (100 - disc_cents)`` is exact BIGINT math
(discount/tax are 2-decimal), so sums are order-independent and
cross-engine identical; the single divide happens after the SUM. At
10^12-row scale the e4/e6 fixed-point sums would move to DECIMAL(38) to
dodge int64 overflow; at benchmark scale BIGINT headroom is ~10^3x.

Plan shape (pinned in tests/test_plans.py): Q1 is one partial/final
hash-aggregate pair with the shipdate filter pushed to the scan; Q3/Q5
broadcast the dimension sides under AQE and shuffle only the fact keys;
Q18's HAVING subquery plans as an aggregate feeding a shuffled semi-join
on the orderkey — never a full materialized IN-list.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocr_spark.queries import register, t

_REV = (
    "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))"
)
_CHARGE = (
    f"{_REV} * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))"
)

_TABLES = (
    "lineitem", "orders", "customer", "supplier", "nation", "region",
    "part",
)


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    for name in _TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(text)


_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
    / 100.0 AS sum_base_price,
  CAST(sum({rev}) AS DOUBLE) / 10000.0 AS sum_disc_price,
  CAST(sum({charge}) AS DOUBLE) / 1000000.0 AS sum_charge,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""".format(rev=_REV, charge=_CHARGE)


@register("tpch_q1", _Q1)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary through spark.sql — identical query text
    on both engines; integer-cents per-row quantization keeps every SUM
    order-independent."""
    return _sql(spark, sf_dir, _Q1)


_Q3 = """
SELECT l.l_orderkey,
  CAST(sum({rev}) AS DOUBLE) / 10000.0 AS revenue,
  {fmt} AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register(
    "tpch_q3",
    _Q3.format(rev=_REV, fmt="strftime(o.o_orderdate, '%Y-%m-%d')"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping-priority top-10 (deterministic orderkey
    tie-break added — TPC-H's bare LIMIT is engine-lottery on revenue
    ties)."""
    return _sql(
        spark, sf_dir,
        _Q3.format(rev=_REV, fmt="date_format(o.o_orderdate, 'yyyy-MM-dd')"),
    )


_Q5 = """
SELECT n.n_name,
  CAST(sum({rev}) AS DOUBLE) / 10000.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
  AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""".format(rev=_REV)


@register("tpch_q5", _Q5)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: the 6-table join with the
    customer-nation = supplier-nation residual — region/nation broadcast,
    fact keys shuffle once."""
    return _sql(spark, sf_dir, _Q5)


_Q6 = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE)
  / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(round(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
  AND l_quantity < 24
"""


@register("tpch_q6", _Q6)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting-revenue change: pure pushed-filter scan +
    one global agg. The discount band compares CENTS (integers) — a raw
    BETWEEN 0.05 AND 0.07 would hinge on float literal parsing, which
    DuckDB reads as DECIMAL and Spark as DOUBLE."""
    return _sql(spark, sf_dir, _Q6)


_Q18 = """
SELECT c.c_name, c.c_custkey, o.o_orderkey,
  {fmt} AS orderdate, o.o_totalprice,
  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@register(
    "tpch_q18",
    _Q18.format(fmt="strftime(o.o_orderdate, '%Y-%m-%d')"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: the HAVING subquery becomes an
    aggregate feeding a semi-join on orderkey (never a materialized
    IN-list); threshold 250 keeps the result non-empty from sf0.001 up."""
    return _sql(
        spark, sf_dir,
        _Q18.format(fmt="date_format(o.o_orderdate, 'yyyy-MM-dd')"),
    )


# --- round-4 late suite growth: Q4, Q12, Q14, Q19, Q22 -------------------------
# Adapted to the slimmed synthetic schemas like Q1-Q18 above (no
# commitdate/receiptdate/shipmode/container/phone columns), preserving
# each query's CHARACTERISTIC plan shape: Q4 correlated EXISTS -> semi
# join, Q12 join + conditional aggregation, Q14 conditional revenue
# share, Q19 OR-of-ANDs disjunctive pushdown, Q22 scalar subquery +
# NOT EXISTS anti join. Determinism: counts/cents are BIGINT; each
# double appears as ONE division of integer-exact operands (identical
# IEEE inputs -> identical result on both engines).

_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("tpch_q4", _Q4)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking: the correlated EXISTS must plan
    as a LEFT SEMI join on l_orderkey (pinned in tests/test_plans.py),
    never a per-row subquery."""
    return _sql(spark, sf_dir, _Q4)


_Q12 = """
SELECT l.l_returnflag,
  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@register("tpch_q12", _Q12)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping-priority split (returnflag standing in for the
    slimmed-away shipmode): fact-fact join + conditional counts."""
    return _sql(spark, sf_dir, _Q12)


_Q14 = """
SELECT
  CAST(100 * sum(CASE WHEN p.p_type = 'PROMO' THEN {rev} ELSE 0 END)
    AS DOUBLE)
  / CAST(sum({rev}) AS DOUBLE) AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1999-06-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1999-08-01 00:00:00'
""".format(rev=_REV)


@register("tpch_q14", _Q14)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion-revenue share: both sums are exact BIGINT
    cents^2, the division is the only float op."""
    return _sql(spark, sf_dir, _Q14)


_Q19 = """
SELECT CAST(sum({rev}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE
  (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
   AND l.l_quantity BETWEEN 1 AND 20)
  OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 10 AND 30
   AND l.l_quantity BETWEEN 5 AND 30)
  OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 20 AND 50
   AND l.l_quantity BETWEEN 10 AND 40)
""".format(rev=_REV)


@register("tpch_q19", _Q19)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue under OR-of-ANDs: the disjunction
    mixes join-side and scan-side predicates — the planner must still
    hash-join on partkey and evaluate the residual post-join rather than
    falling back to a nested loop."""
    return _sql(spark, sf_dir, _Q19)


_Q22 = """
SELECT cntrycode, count(*) AS numcust,
  CAST(sum(acctbal_cents) AS DOUBLE) / 100.0 AS totacctbal
FROM (
  SELECT substring(c.c_name, 17, 2) AS cntrycode,
    CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents
  FROM customer c
  WHERE CAST(round(c.c_acctbal * 100, 0) AS BIGINT) > (
      SELECT sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / count(*)
      FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderpriority = '1-URGENT'
    )
)
GROUP BY cntrycode
ORDER BY cntrycode
"""


@register("tpch_q22", _Q22)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales-opportunity: an uncorrelated scalar
    subquery (integer-cents average — the sum is exact, the one divide
    sees identical operands on both engines) plus a NOT EXISTS that must
    plan as a LEFT ANTI join on custkey ('customers with no urgent
    order' standing in for the slimmed-away phone prefix)."""
    return _sql(spark, sf_dir, _Q22)


_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey AS custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
    AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("tpch_q13", _Q13)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer distribution: LEFT OUTER with an ON-clause
    residual (zero-order customers must survive as c_count = 0), then a
    second aggregation over the first's output — the classic two-level
    agg whose inner keys are the outer's values."""
    return _sql(spark, sf_dir, _Q13)

# --- round-4 suite completion: the remaining eleven (Q2, Q7-Q11, Q15-Q17,
# Q20, Q21) — all 22 named queries now run through the spark.sql entry
# point with identical text on both engines. The synthetic schema has no
# PARTSUPP table, so the four queries built on it (Q2/Q11/Q16/Q20) treat
# LINEITEM as the part-supplier catalog: a (l_partkey, l_suppkey) offer
# with the row's integer-cents extendedprice standing in for
# ps_supplycost, shipped-quantity sums standing in for ps_availqty. Each
# adaptation preserves the query's CHARACTERISTIC plan shape (noted per
# query); thresholds are integer-exact so row membership can never hinge
# on a float rounding difference between engines.

_PRICE_CENTS = "CAST(round({0}.l_extendedprice * 100, 0) AS BIGINT)"

_Q2 = """
SELECT DISTINCT
  CAST(round(s.s_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
  s.s_name, n.n_name, p.p_partkey, p.p_name
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE p.p_size = 25 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
  AND {pc_l} = (
    SELECT min({pc_l2})
    FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY acctbal_cents DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
""".format(pc_l=_PRICE_CENTS.format("l"), pc_l2=_PRICE_CENTS.format("l2"))


@register("tpch_q2", _Q2)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier: the correlated scalar MIN with the
    region filter repeated inside must decorrelate to an aggregate +
    equi-join on partkey (never a per-row subquery); DISTINCT collapses
    the multi-offer fan-out the partsupp-less catalog introduces. LIMIT
    is deterministic: (s_name, p_partkey) is unique per row and both are
    in the ORDER BY."""
    return _sql(spark, sf_dir, _Q2)


_Q7 = """
SELECT supp_nation, cust_nation, l_year,
  CAST(sum(volume) AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    year(l.l_shipdate) AS l_year, {rev} AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""".format(rev=_REV)


@register("tpch_q7", _Q7)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: two independent probes of the same
    nation dimension (supplier side and customer side) under a
    symmetric OR pair filter — both nation joins must broadcast, and the
    OR must NOT block the pushdown of either equality disjunct pair."""
    return _sql(spark, sf_dir, _Q7)


_Q8 = """
SELECT o_year,
  CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
    AS DOUBLE) / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o.o_orderdate) AS o_year, {rev} AS volume,
    n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
)
GROUP BY o_year
ORDER BY o_year
""".format(rev=_REV)


@register("tpch_q8", _Q8)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: the deepest join tree in the
    suite (7 tables, one dimension probed twice under different roles).
    Both sums are exact BIGINT cents-pct; the share divide is the only
    float op, fed identical operands on both engines."""
    return _sql(spark, sf_dir, _Q8)


_Q9 = """
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) / 10000.0 AS sum_profit
FROM (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
    {rev} - CAST(round(p.p_retailprice * 100, 0) AS BIGINT)
          * CAST(l.l_quantity AS BIGINT) * 20 AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%green%' OR p.p_name LIKE '%red%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""".format(rev=_REV)


@register("tpch_q9", _Q9)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit: substring LIKE on the part name
    (non-sargable — evaluated at the part scan, never post-join) feeding
    the fact join; supplycost is proxied as 20% of integer-cents retail
    price x quantity so the profit SUM stays exact BIGINT e4."""
    return _sql(spark, sf_dir, _Q9)


_Q10 = """
SELECT c.c_custkey, c.c_name,
  CAST(sum({rev}) AS DOUBLE) / 10000.0 AS revenue,
  CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
  n.n_name, c.c_mktsegment
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1999-04-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name, c.c_mktsegment
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""".format(rev=_REV)


@register("tpch_q10", _Q10)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: quarter-scoped fact join with
    a post-join flag filter, wide GROUP BY over customer attributes,
    top-20 by exact revenue with the unique custkey tie-break TPC-H's
    bare LIMIT lacks."""
    return _sql(spark, sf_dir, _Q10)


_Q11 = """
SELECT l_partkey, value_e4
FROM (
  SELECT l.l_partkey AS l_partkey, CAST(sum({rev}) AS BIGINT) AS value_e4
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_5'
  GROUP BY l.l_partkey
)
WHERE value_e4 * 1000 > (
  SELECT sum({rev2})
  FROM lineitem l2
  JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
  WHERE n2.n_name = 'NATION_5'
)
ORDER BY value_e4 DESC, l_partkey
""".format(
    rev=_REV,
    rev2=_REV.replace("l_extendedprice", "l2.l_extendedprice").replace(
        "l_discount", "l2.l_discount"
    ),
)


@register("tpch_q11", _Q11)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock: per-part value vs an uncorrelated
    scalar subquery over the SAME filtered join (the planner sees the
    aggregate twice; the HAVING-style threshold is the integer-exact
    cross-multiplication value*1000 > total, i.e. 0.1% of ledger value —
    row membership can never hinge on a float)."""
    return _sql(spark, sf_dir, _Q11)


_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, sum({rev}) AS total_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1999-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_e4 AS DOUBLE) / 10000.0
  AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_e4 = (SELECT max(total_e4) FROM revenue)
ORDER BY s.s_suppkey
""".format(rev=_REV)


@register("tpch_q15", _Q15)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: the revenue CTE consumed twice — once as
    the join input, once under the scalar MAX. The max over exact BIGINT
    e4 makes 'ties return all rows' deterministic, which is why the
    original's VIEW formulation is safe to grade by value hash."""
    return _sql(spark, sf_dir, _Q15)


_Q16 = """
SELECT p.p_brand, p.p_type, p.p_size,
  count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#3' AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@register("tpch_q16", _Q16)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 parts/supplier relationship: NOT IN over a filtered
    supplier set ('negative balance' standing in for the slimmed-away
    complaints comment scan) — plans as a null-aware anti join — feeding
    count(DISTINCT suppkey) per (brand, type, size) cell over the
    lineitem-as-catalog offer set."""
    return _sql(spark, sf_dir, _Q16)


_Q17 = """
SELECT CAST(sum({rev}) AS DOUBLE) / 70000.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23' AND p.p_size < 8
  AND CAST(l.l_quantity AS BIGINT) * 5
      * (SELECT count(*) FROM lineitem l2
         WHERE l2.l_partkey = p.p_partkey)
    < (SELECT sum(CAST(l3.l_quantity AS BIGINT)) FROM lineitem l3
       WHERE l3.l_partkey = p.p_partkey)
""".format(rev=_REV)


@register("tpch_q17", _Q17)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: the original's correlated
    0.2*avg(quantity) threshold, made integer-exact by cross-multiplying
    (qty < sum/(5*count) <=> qty*5*count < sum) — TWO correlated scalar
    aggregates on the same partkey correlation, each of which must
    decorrelate to an aggregate + join; the 7-year divisor folds into the
    single final divide."""
    return _sql(spark, sf_dir, _Q17)


_Q20 = """
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_regionkey = 2
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
      )
      AND l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING sum(CAST(l.l_quantity AS BIGINT)) > 40
  )
ORDER BY s.s_name
"""


@register("tpch_q20", _Q20)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion: the signature nested-IN pair
    — part-name prefix scan inside the lineitem aggregate inside the
    supplier semi join — each IN must plan as a LEFT SEMI, never a
    materialized list; the availqty comparison becomes an integer
    shipped-quantity HAVING threshold (no partsupp table)."""
    return _sql(spark, sf_dir, _Q20)


_Q21 = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND n.n_name = 'NATION_7'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
"""


@register("tpch_q21", _Q21)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers who kept orders waiting: the EXISTS/NOT
    EXISTS pair on the same fact table with the correlated INEQUALITY
    (l2.l_suppkey <> l1.l_suppkey) riding the orderkey equi-join as a
    residual — semi + anti join back-to-back. 'Late' is shipped >60 days
    after the order date (the slimmed schema has no
    commitdate/receiptdate)."""
    return _sql(spark, sf_dir, _Q21)
