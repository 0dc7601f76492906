package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** SQL-API surface: the same engine driven through `spark.sql` text
  * (SURVEY.md §2 Part B — the B10-B30 operators compose under the SQL
  * parser exactly as under the DataFrame DSL; both lower to the same
  * Catalyst plans). Two TPC-H-shaped multi-join analytics queries prove
  * the parser → analyzer → optimizer path end-to-end.
  *
  * Scale notes: Q3 joins two large tables after selective dim filters —
  * Catalyst pushes both filters below the join and AQE picks
  * broadcast-hash once the filtered side is small. Q5 is the 6-table
  * star join; join reorder + broadcast of region/nation is the plan
  * that survives 100 TB.
  */
object SqlQueries {

  private def registerViews(s: SparkSession, d: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach(t => Tables.load(s, d, t).createOrReplaceTempView(t))

  /** TPC-H Q3 shape: shipping priority — revenue of unshipped orders for
    * one market segment. */
  def q3(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(
      """SELECT /*+ BROADCAST(customer) */ o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q5 shape: local-supplier revenue per nation within one region
    * and year. */
  def q5(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }

  /** Subquery forms: scalar aggregate subquery, IN-subquery, correlated
    * EXISTS — Catalyst decorrelates all three into joins (RewritePredicateSubquery),
    * which is what keeps them runnable at 100 TB (no per-row re-execution).
    */
  def subqueries(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(
      """SELECT o_orderkey, o_orderstatus
        |FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Null semantics: null-safe equality, NULL-generating expressions,
    * coalesce-fill, and null-aware counting. */
  def nullHandling(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(
      """WITH e AS (
        |  SELECT o_orderkey,
        |    NULLIF(o_orderstatus, 'P') AS st,      -- injects NULLs
        |    NULLIF(o_orderpriority, '5-LOW') AS pri
        |  FROM orders WHERE o_orderkey < 3000)
        |SELECT
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(st) AS BIGINT) AS n_st_nonnull,
        |  CAST(SUM(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_st_null,
        |  CAST(SUM(CASE WHEN st <=> pri THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
        |  CAST(COUNT(DISTINCT COALESCE(st, 'NONE')) AS BIGINT) AS n_filled
        |FROM e""".stripMargin)
  }

  /** TPC-H Q7 shape: bilateral trade volume between two nations by year —
    * a 6-table join where both nation sides broadcast and the year is
    * derived in the aggregate key. */
  def q7(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM supplier
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  /** FILTER-clause aggregates: per-group conditional aggregation without
    * self-joins or CASE pyramids (one pass, one shuffle). */
  def aggFilter(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_all,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_totalprice > 1000) AS DOUBLE) AS big_total,
        |  CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE year(o_orderdate) = 1997) AS BIGINT) AS cust_97
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** TPC-H shapes whose text is valid, and decimal-exact, in BOTH Spark
    * SQL and DuckDB — declared once, run verbatim in each engine (the
    * strongest possible oracle: zero translation). All 22 query shapes
    * are covered. The testdata omits `partsupp` and the comment/phone
    * columns, so the queries that need them (q2, q9, q11, q16, q20, q22)
    * substitute predicates over existing columns chosen to preserve the
    * PLAN shape — the correlated scalar MIN (q2), the cost-term aggregate
    * (q9), the scalar-subquery HAVING (q11), the NOT-IN anti-join (q16),
    * the agg-in-IN-subquery (q20), and the AVG-scalar + NOT-EXISTS
    * anti-join (q22); date-lag predicates stand in for the missing
    * commit/receipt columns (q4, q12, q21). */
  private val tpchShared: Map[String, String] = Map(
    // Q1: full pricing summary — one scan, partial+final hash aggregate.
    // sum_charge's factors cast NARROW ((12,2)·(3,2)·(3,2) → (22,6),
    // exact): with (18,2) casts the triple product derives precision >38
    // and each engine rounds the per-row value differently. The scale-6
    // sum is then ROUNDed to cents IN DECIMAL before the DOUBLE cast:
    // at sf1 the unscaled sum (5.08e16) exceeds 2^53, and DuckDB's
    // int128/10^scale conversion double-rounds one ULP away from
    // Spark's correctly-rounded BigDecimal path — cents (5.1e12) stay
    // exactly convertible through ~sf100. Both were invisible at
    // sf0.01; sf1 surfaced them as a 6e-6 divergence on the 5e10 sum.
    "sql_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
        |           * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))), 2) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // Q4: order-priority count via correlated EXISTS (decorrelated to a
    // semi join); ship-lag predicate stands in for commit<receipt
    "sql_q4" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // Q6: forecast revenue change — pure scan + filter + single aggregate
    "sql_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // Q8: national market share — 8-table star join, CASE share aggregate
    "sql_q8" ->
      """SELECT o_year,
        |  ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
        |                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |        / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
        |    n2.n_name AS nation
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Q10: returned-item reporting — revenue lost to returns per customer
    "sql_q10" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    // Q12: late shipments by priority class per ship year (FILTER-class
    // conditional counts; ship-lag stands in for the shipmode predicate)
    "sql_q12" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Q14: promotion revenue share — join + CASE numerator over one month
    "sql_q14" ->
      """SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,
    // Q18: large-volume customers — aggregate + HAVING on the exact sum
    "sql_q18" ->
      """SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, o_orderkey, o_orderdate
        |HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 140
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 50""".stripMargin,
    // Q2: min-cost supplier — correlated scalar MIN subquery over a
    // 4-table join (lineitem bridges part↔supplier in lieu of partsupp);
    // Catalyst decorrelates into an aggregate-join on l_partkey
    "sql_q2" ->
      """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM part
        |JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'PROMO' AND r_name = 'ASIA'
        |  AND l_extendedprice = (
        |    SELECT MIN(l2.l_extendedprice)
        |    FROM lineitem l2
        |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE l2.l_partkey = p_partkey AND r2.r_name = 'ASIA')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    // Q9: product-type profit — 5-table join, per-(nation, year) profit
    // with a retailprice-based cost term standing in for ps_supplycost
    "sql_q9" ->
      """SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS amount
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%widget%') profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,
    // Q11: important stock — grouped aggregate filtered by a scalar
    // subquery in HAVING (parts holding >2× the average per-part value;
    // a scale-stable fraction, unlike TPC-H's 1/SF constant)
    "sql_q11" ->
      """SELECT l_partkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |GROUP BY l_partkey
        |HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2))) > 2 * (
        |  SELECT AVG(v) FROM (
        |    SELECT SUM(CAST(l2.l_extendedprice AS DECIMAL(18,2))) AS v
        |    FROM lineitem l2
        |    JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    WHERE n2.n_name = 'NATION_3'
        |    GROUP BY l2.l_partkey) pv)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    // Q13: customer order-count distribution — left outer join with an
    // ON-clause filter (never a WHERE: that would kill the null rows),
    // then a second aggregate over the first's result
    "sql_q13" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // Q15: top supplier — CTE evaluated once, scalar MAX subquery over it
    "sql_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    // Q16: parts/supplier relationship — distinct-count per part attr
    // with a NOT IN anti-join (acctbal stands in for the comment filter)
    "sql_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q17: small-quantity-order revenue — the hardest decorrelation
    // shape: TWO correlated aggregate scalar subqueries per outer row.
    // The classic `< 0.2 * AVG(...)` is restated division-free
    // (qty * 5 * count < sum) so both engines compare exact decimals
    "sql_q17" ->
      """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7, 4) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1' AND p_type = 'PROMO'
        |  AND CAST(l_quantity AS DECIMAL(18,2)) * 5
        |      * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |    < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2))) FROM lineitem l3
        |       WHERE l3.l_partkey = p_partkey)""".stripMargin,
    // Q20: potential part promotion — nested IN whose subquery is itself
    // a grouped aggregate with HAVING (agg-in-IN decorrelation)
    "sql_q20" ->
      """SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey
        |    FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE p_name LIKE 'blue%'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
        |  AND n_name = 'NATION_3'
        |ORDER BY s_name""".stripMargin,
    // Q21: suppliers who kept orders waiting — EXISTS plus a NOT EXISTS
    // correlated on TWO outer columns (l1.l_orderkey, o_orderdate);
    // ship-lag stands in for the missing commit/receipt dates.
    // ORACLE-ONLY since r16: the engine runs [[q21]]'s aggregate rewrite
    // (one lineitem shuffle); DuckDB still runs this text verbatim.
    "sql_q21" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |  AND n_name IN ('NATION_3', 'NATION_8')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    // Q22: global sales opportunity — substring-derived code (customer
    // name digits stand in for phone country codes), an uncorrelated AVG
    // scalar subquery, and a NOT EXISTS anti-join against orders
    "sql_q22" ->
      """SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM (
        |  SELECT SUBSTRING(c_name, 17, 2) AS cntrycode, c_acctbal
        |  FROM customer
        |  WHERE SUBSTRING(c_name, 17, 2) IN ('10', '11', '12', '13', '14', '15')
        |    AND c_acctbal > (SELECT CAST(AVG(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                     FROM customer WHERE c_acctbal > 0)
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT'
        |                    AND o_orderdate >= TIMESTAMP '1997-06-01')) custsale
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin,
    // Q19: OR-of-conjunctions across the join — planners must push the
    // part-only disjuncts to the dim scan and keep the mixed ones above
    "sql_q19" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity >= 1 AND l_quantity <= 21)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |        AND l_quantity >= 10 AND l_quantity <= 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |        AND l_quantity >= 20 AND l_quantity <= 40)""".stripMargin
  )

  /** Non-TPC-H engine-shared SQL: same text runs verbatim in Spark and
    * DuckDB, like [[tpchShared]]. */
  private val sqlShared: Map[String, String] = Map(
    // Explicit GROUPING SETS — the general form rollup/cube specialize;
    // GROUPING() markers disambiguate "NULL key" from "subtotal row".
    // One scan: Spark lowers the sets to a single Expand + hash agg
    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,
    // named WINDOW clause — the parser surface for sharing one sort
    // across several window functions (the same single-sort discipline
    // win_rank pins from the DSL side), verbatim in both engines
    "sql_window_named" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(row_number() OVER w1 AS BIGINT) AS rn,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w2 AS DOUBLE) AS run3
        |FROM orders
        |WHERE o_orderkey < 500
        |WINDOW
        |  w1 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
        |  w2 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderstatus, rn""".stripMargin,
    // LATERAL correlated subquery with ORDER BY + LIMIT — top-N per
    // outer row as the user writes it. Spark DECORRELATES rather than
    // loops: the inner query becomes one row_number window partitioned
    // by the correlation key joined back to customer, so the plan is a
    // single shuffle of orders however many outer rows there are —
    // nothing executes per-row at any scale
    "join_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.price
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
        |  FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) t
        |WHERE c.c_custkey < 200
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin,
    // Null-aware NOT IN: three-valued logic makes `x NOT IN (set with
    // NULL)` reject EVERY row (x <> NULL is UNKNOWN), while the same set
    // minus its NULLs anti-joins normally — both counted side by side.
    // Spark plans the nullable side as a null-aware anti join rather
    // than a plain LeftAnti, which would be wrong
    "join_null_anti" ->
      """SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_custkey NOT IN
        |     (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |      UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_with_null,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_custkey NOT IN
        |     (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) AS n_without_null""".stripMargin
  )

  private val shared: Map[String, String] = tpchShared ++ sqlShared

  private def runShared(name: String)(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(shared(name))
  }

  /** ENGINE plan for the two single-table full-scan aggregates (Q1's
    * pricing summary, the grouping-sets cube): the SHARED text verbatim,
    * but over a query-local lineitem view backed by [[Tables.spread]] —
    * the r19 opt-in scan-parallelism floor for the corpus's one-row-
    * group-per-file layout (guide §2.5 "input skew … repartition
    * immediately after the read"). These two are the only TPC-H-family
    * shapes whose map side is CPU-heavy ENOUGH (decimal triple products
    * per row; Expand ×4 per row) to repay the exchange — the r19 blanket
    * experiment measured the shared-view form losing 9.1 s across the
    * join-heavy sql_* family, so the spread view is QUERY-LOCAL (a
    * separate view name; `registerViews`' plain `lineitem` is untouched
    * for every other query). Results are identical by construction
    * (partition-order-exact decimal aggregates; total ORDER BY) and the
    * DuckDB oracle still runs the shared text — hash-checked both SFs. */
  private def runSharedSpreadLineitem(name: String)(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    Tables.spread(s, d, "lineitem").createOrReplaceTempView("lineitem_spread")
    val rewritten = shared(name).replace("FROM lineitem\n", "FROM lineitem_spread\n")
    // a text edit that stops matching would silently read the plain view
    require(rewritten != shared(name), s"$name: no 'FROM lineitem' line to point at the spread view")
    s.sql(rewritten)
  }

  /** Q21 ENGINE plan — the classic aggregate rewrite. The textbook
    * EXISTS/NOT-EXISTS form (the shared oracle text above, which DuckDB
    * still runs verbatim) decorrelates in Spark to a semi- PLUS an
    * anti- self-join, putting THREE full lineitem passes through the
    * shuffle; at sf100 that is >48 GiB of live shuffle on one box
    * (r15 adjudication) and three exchanges of the fact table on a
    * cluster. The rewrite exploits that all three correlated passes
    * range over the SAME order's lineitems: one join of lineitem
    * against 'F' orders (the only fact-table shuffle), then per-
    * (order, supplier) and per-order aggregates — both reuse the
    * join's hash partitioning on the order key, so Catalyst inserts
    * NO further exchange (PlanSpec pins one lineitem scan and zero
    * semi/anti joins). Per order:
    *   n_supp ≥ 2        ⟺ the EXISTS (another supplier in the order),
    *   n_late_supp = 1   ⟺ the NOT EXISTS (no OTHER supplier late —
    *                        the qualifying l1 rows are late themselves,
    *                        so the late-supplier set must be exactly
    *                        {l1.l_suppkey}),
    *   n_late_rows       = COUNT(*) over qualifying l1 rows (all late
    *                        rows belong to the single late supplier).
    * Supplier/nation are dimension-sized at every SF (1M rows at
    * sf100) — explicitly broadcast, as they would be at 100 TB. */
  def q21(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(
      """SELECT /*+ BROADCAST(supplier, nation) */ s_name,
        |  CAST(SUM(n_late_rows) AS BIGINT) AS numwait
        |FROM (
        |  SELECT l_orderkey,
        |    COUNT(*) AS n_supp,
        |    SUM(sup_late) AS n_late_supp,
        |    SUM(CASE WHEN sup_late = 1 THEN late_rows ELSE 0 END) AS n_late_rows,
        |    MAX(CASE WHEN sup_late = 1 THEN l_suppkey END) AS late_suppkey
        |  FROM (
        |    SELECT l_orderkey, l_suppkey,
        |      MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |          THEN 1 ELSE 0 END) AS sup_late,
        |      SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |          THEN 1 ELSE 0 END) AS late_rows
        |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |    WHERE o_orderstatus = 'F'
        |    GROUP BY l_orderkey, l_suppkey) per_supp
        |  GROUP BY l_orderkey) per_order
        |JOIN supplier ON s_suppkey = late_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_supp >= 2 AND n_late_supp = 1
        |  AND n_name IN ('NATION_3', 'NATION_8')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)
  }

  /** Spark 4 RECURSIVE CTE — ancestor walk over the chunk catalog's
    * bucket hierarchy (each index level groups 4 children), the
    * multi-level range index a flat `(dataset ∥ start ∥ end)` key
    * layout implies at scale (reference key order:
    * /root/reference/src/rocksdb_storage_engine.rs:180-192). Spark's
    * recursive CTEs support UNION ALL only (no fixpoint dedup), so the
    * walk must be ACYCLIC by construction: `cur div 4` strictly
    * decreases, terminating in ⌈log₄(max bucket)⌉ rounds at ANY scale
    * factor — never near the engine's depth limit. Output is the
    * per-dataset histogram of index depths. */
  def recursiveRollup(s: SparkSession, d: String): DataFrame = {
    // the walk emits ~log4(block_start) rows PER CHUNK, so total
    // recursion output scales with the catalog and trips Spark's 1M-row
    // safety default at sf10 — a corpus-proportional recursion is the
    // intended workload here, so raise the valve deliberately (the
    // level limit stays at its default: depth is log-bounded by design).
    // The raise lives on a CHILD session (own SQLConf, shared context):
    // the returned DataFrame is lazy, so a set-then-restore on the
    // caller's conf would either be undone before execution or leak the
    // 2e9 valve to every later recursive query on the shared session
    val sc = s.newSession()
    registerViews(sc, d)
    ChunkCatalog.catalog(sc, d).createOrReplaceTempView("chunk_catalog")
    sc.conf.set("spark.sql.cteRecursionRowLimit", 2000000000)
    sc.sql(
      """WITH RECURSIVE walk(dataset_id, chunk_id, cur, depth) AS (
        |  SELECT dataset_id, chunk_id, block_start div 100, 0 FROM chunk_catalog
        |  UNION ALL
        |  SELECT dataset_id, chunk_id, cur div 4, depth + 1 FROM walk WHERE cur > 0),
        |root_depth AS (
        |  SELECT dataset_id, chunk_id, MAX(depth) AS depth
        |  FROM walk GROUP BY dataset_id, chunk_id)
        |SELECT dataset_id, depth, CAST(COUNT(*) AS BIGINT) AS n_chunks
        |FROM root_depth GROUP BY dataset_id, depth
        |ORDER BY dataset_id, depth""".stripMargin)
  }

  // shared-text entries first, explicit engine plans second: an explicit
  // entry OVERRIDES the shared auto-entry for the same name (sql_q21 runs
  // the aggregate rewrite while its ORACLE stays the shared EXISTS text)
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    shared.keys.map(n => n -> (runShared(n) _)).toMap ++ Map(
      "sql_q1" -> (runSharedSpreadLineitem("sql_q1") _),
      "agg_grouping_sets" -> (runSharedSpreadLineitem("agg_grouping_sets") _),
      "sql_recursive" -> (recursiveRollup(_, _)),
      "agg_filter" -> (aggFilter(_, _)),
      "sql_q7" -> (q7(_, _)),
      "sql_q3" -> (q3(_, _)),
      "sql_q5" -> (q5(_, _)),
      "sql_q21" -> (q21(_, _)),
      "sub_queries" -> (subqueries(_, _)),
      "fn_null" -> (nullHandling(_, _))
    )

  def oracles: Map[String, String] = Map(
    "sql_recursive" ->
      s"""${ChunkCatalog.catalogSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |walk(dataset_id, chunk_id, cur, depth) AS (
         |  SELECT dataset_id, chunk_id, block_start // 100, 0 FROM catalog
         |  UNION ALL
         |  SELECT dataset_id, chunk_id, cur // 4, depth + 1 FROM walk WHERE cur > 0),
         |root_depth AS (
         |  SELECT dataset_id, chunk_id, MAX(depth) AS depth
         |  FROM walk GROUP BY dataset_id, chunk_id)
         |SELECT dataset_id, depth, CAST(COUNT(*) AS BIGINT) AS n_chunks
         |FROM root_depth GROUP BY dataset_id, depth
         |ORDER BY dataset_id, depth""".stripMargin,
    "agg_filter" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_all,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_totalprice > 1000) AS DOUBLE) AS big_total,
        |  CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE year(o_orderdate) = 1997) AS BIGINT) AS cust_97
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "sql_q3" ->
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "sql_q5" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "sql_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM supplier
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "sub_queries" ->
      """SELECT o_orderkey, o_orderstatus
        |FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |ORDER BY o_orderkey""".stripMargin,
    "fn_null" ->
      """WITH e AS (
        |  SELECT o_orderkey,
        |    NULLIF(o_orderstatus, 'P') AS st,
        |    NULLIF(o_orderpriority, '5-LOW') AS pri
        |  FROM orders WHERE o_orderkey < 3000)
        |SELECT
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(st) AS BIGINT) AS n_st_nonnull,
        |  CAST(SUM(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_st_null,
        |  CAST(SUM(CASE WHEN st IS NOT DISTINCT FROM pri THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
        |  CAST(COUNT(DISTINCT COALESCE(st, 'NONE')) AS BIGINT) AS n_filled
        |FROM e""".stripMargin
  ) ++ shared
}
