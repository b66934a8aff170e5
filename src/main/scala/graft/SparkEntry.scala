package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** The registered queries and their DuckDB oracles (SURVEY.md §7).
  *
  * Each query is declared once in `registry`: its name, the function
  * that runs it over an sf directory, and the DuckDB SQL whose answer
  * it must hash-match. `queries` and `oracleSql` are derived from those
  * declarations, so the two maps cannot disagree. Each query is one
  * operator from SURVEY.md §2 (or a north-star extension); column
  * names are aligned between the Spark output and the oracle SQL, and
  * every query output is deterministically ordered. A query's family is
  * the leading letters of its name (`dd` for `dd8_components`).
  */
object SparkEntry {

  /** One registered query. The oracle SQL is built on first read, so
    * listing or running queries never generates the oracle strings.
    */
  final class Query(
      val name: String,
      val run: (SparkSession, String) => DataFrame,
      sql: => String) {
    lazy val oracle: String = sql
  }

  object Query {
    def apply(name: String, run: (SparkSession, String) => DataFrame,
              oracle: => String): Query = new Query(name, run, oracle)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.starJoinRevenue(spark, "/root/testdata/sf0.001")

  /** Every registered query, declared once. */
  lazy val registry: Seq[Query] = Seq(
    // SURVEY §2.2 filters / projections
    Query("p1_point_filter", (s, d) => Relational.pointFilter(s, d),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey = 42""".stripMargin),
    Query("p2_like_substring", (s, d) => Relational.likeSubstring(s, d),
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_name LIKE '%wid%' ORDER BY p_partkey""".stripMargin),
    Query("p3_time_prefix", (s, d) => Relational.timePrefixLike(s, d),
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_time
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') LIKE '1996-0%-1%'
        |ORDER BY o_orderkey""".stripMargin),
    Query("p7_json_projection", (s, d) => Relational.jsonProjection(s, d),
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events WHERE CAST(props->>'$.k' AS INTEGER) > 50
        |ORDER BY event_id""".stripMargin),
    Query("p8_find_substring", (s, d) => Relational.findSubstring(s, d),
      """SELECT doc_id, source FROM documents
        |WHERE source LIKE '%1%' ORDER BY doc_id""".stripMargin),
    // §2.5 sort / limit / pagination / top-k
    Query("o1_paginate_asc", (s, d) => Relational.paginateAsc(s, d),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey ASC LIMIT 100 OFFSET 50""".stripMargin),
    Query("o2_paginate_desc", (s, d) => Relational.paginateDesc(s, d),
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_time,
        |       o_totalprice
        |FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC
        |LIMIT 50 OFFSET 20""".stripMargin),
    Query("o3_topk_score", (s, d) => Relational.topKByScore(s, d),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal IS NOT NULL
        |ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 15""".stripMargin),
    Query("o5_sort_any_col", (s, d) => Relational.sortByAnyColumn(s, d),
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin),
    Query("o6_keyset_page", (s, d) => Relational.keysetPage(s, d),
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_time,
        |       o_totalprice
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        |   OR (o_orderdate = TIMESTAMP '1997-06-01 00:00:00' AND o_orderkey < 999999)
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 50""".stripMargin),
    // §2.3 joins
    Query("j1_join_nested", (s, d) => Relational.joinNested(s, d),
      """SELECT o.o_orderkey, o.o_totalprice,
        |  count(l.l_linenumber) AS n_lines,
        |  coalesce(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
        |           / 10000.0, 0.0) AS revenue,
        |  coalesce(string_agg(CAST(l.l_linenumber AS VARCHAR), ',' ORDER BY l.l_linenumber), '')
        |    AS line_numbers
        |FROM orders o LEFT OUTER JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey < 200
        |GROUP BY o.o_orderkey, o.o_totalprice
        |ORDER BY o.o_orderkey""".stripMargin),
    Query("j2_semi_join", (s, d) => Relational.semiJoin(s, d),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Query("j3_anti_join", (s, d) => Relational.antiJoin(s, d),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Query("j4_star_join", (s, d) => Relational.starJoinRevenue(s, d),
      """SELECT r_name, n_name,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    Query("j5_range_join", (s, d) => Relational.rangeJoin(s, d),
      """SELECT s_suppkey, s_name, count(*) AS n_matched,
        |  round(sum(c_acctbal), 2) AS sum_cust_bal
        |FROM customer JOIN supplier
        |  ON c_acctbal BETWEEN s_acctbal - 50.0 AND s_acctbal + 50.0
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin),
    Query("j6_asof_join", (s, d) => Relational.asofJoin(s, d),
      asofOracleSql),
    // §2.4 aggregations
    Query("a1_max_id", (s, d) => Analytics.maxOrderId(s, d),
      "SELECT max(o_orderkey) AS max_id FROM orders"),
    Query("a2_monthly_sales", (s, d) => Analytics.monthlySales(s, d),
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |       CAST(month(o_orderdate) AS INTEGER) AS m,
        |       round(sum(o_totalprice), 2) AS sales, count(*) AS n_orders
        |FROM orders
        |GROUP BY CAST(year(o_orderdate) AS INTEGER), CAST(month(o_orderdate) AS INTEGER)
        |ORDER BY y, m""".stripMargin),
    Query("a3_rollup_sales", (s, d) => Analytics.rollupSales(s, d),
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |       CAST(month(o_orderdate) AS INTEGER) AS m,
        |       round(sum(o_totalprice), 2) AS sales
        |FROM orders
        |GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER),
        |                 CAST(month(o_orderdate) AS INTEGER))
        |ORDER BY y ASC NULLS FIRST, m ASC NULLS FIRST""".stripMargin),
    Query("a4_count", (s, d) => Analytics.countAll(s, d),
      "SELECT count(*) AS n FROM orders"),
    Query("a6_supplier_stats", (s, d) => Analytics.supplierStats(s, d),
      """SELECT l_suppkey, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS total_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY l_suppkey
        |HAVING count(*) > 10 ORDER BY l_suppkey""".stripMargin),
    Query("a7_distinct_counts", (s, d) => Analytics.distinctCounts(s, d),
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin),
    // a8: the HLL estimates themselves aren't cross-engine; the audit
    // emits exact cardinalities + in-bounds bits, which are.
    Query("a8_approx_distinct", (s, d) => Analytics.approxDistinct(s, d),
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |       count(DISTINCT l_orderkey) AS exact_orders,
        |       TRUE AS parts_ok, TRUE AS orders_ok
        |FROM lineitem""".stripMargin),
    Query("q1_pricing_summary", (s, d) => Analytics.q1PricingSummary(s, d),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS sum_disc_price,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      * (100 + CAST(round(l_tax * 100) AS BIGINT))) / 1000000.0 AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q3_ship_priority", (s, d) => Benchmark.q3ShippingPriority(s, d),
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_orderpriority,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),
    Query("q6_forecast_rev", (s, d) => Benchmark.q6ForecastRevenue(s, d),
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    Query("q7_above_avg", (s, d) => Benchmark.aboveAvgBalance(s, d),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |ORDER BY c_custkey""".stripMargin),
    Query("q8_above_cust_avg", (s, d) => Benchmark.aboveCustomerAvg(s, d),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT avg(i.o_totalprice) FROM orders i
        |                            WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),
    Query("a9_cube_sales", (s, d) => Benchmark.cubeSales(s, d),
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y, o_orderpriority,
        |  round(sum(o_totalprice), 2) AS sales
        |FROM orders
        |GROUP BY CUBE (CAST(year(o_orderdate) AS INTEGER), o_orderpriority)
        |ORDER BY y ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),
    Query("a10_pivot_status", (s, d) => Benchmark.pivotStatus(s, d),
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
        |FROM orders GROUP BY CAST(year(o_orderdate) AS INTEGER)
        |ORDER BY y""".stripMargin),
    Query("a11_percentiles", (s, d) => Analytics.percentiles(s, d),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // a12: sketch audit — exact quantiles hash-match quantile_cont;
    // the *_ok bits assert the sketch's rank-error bound held.
    Query("a12_approx_pct", (s, d) => Analytics.approxPercentiles(s, d),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("a13_grouping_sets", (s, d) => Analytics.groupingSetsSales(s, d),
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y, o_orderpriority,
        |  CASE WHEN CAST(year(o_orderdate) AS INTEGER) IS NULL
        |            AND o_orderpriority IS NULL THEN 3
        |       WHEN o_orderpriority IS NULL THEN 1
        |       WHEN CAST(year(o_orderdate) AS INTEGER) IS NULL THEN 2
        |       ELSE 0 END AS gid,
        |  round(sum(o_totalprice), 2) AS sales, count(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((CAST(year(o_orderdate) AS INTEGER)),
        |                        (o_orderpriority), ())
        |ORDER BY gid ASC, y ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),
    Query("a14_stats_suite", (s, d) => Analytics.statsSuite(s, d),
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(stddev_pop(l_quantity), 4) AS sdp_qty,
        |  round(var_samp(l_discount), 6) AS var_disc,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(covar_pop(l_quantity, l_discount), 6) AS covp_qty_disc,
        |  round(covar_samp(l_quantity, l_discount), 6) AS covs_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("a16_argmax_suite", (s, d) => Analytics.argmaxSuite(s, d),
      """SELECT o_orderpriority,
        |  max_by(o_orderkey, printf('%018d#%012d',
        |      CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey))
        |    AS top_order,
        |  min_by(o_orderkey, printf('%018d#%012d',
        |      CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey))
        |    AS bottom_order,
        |  CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
        |  bool_or(o_orderstatus = 'P') AS any_pending,
        |  bool_and(o_totalprice > 0) AS all_positive
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("f_null_handling", (s, d) => Analytics.nullHandling(s, d),
      """SELECT c_custkey,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(redacted)') AS seg_coalesced,
        |  CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NULL THEN 1 ELSE 0 END
        |    AS is_building,
        |  (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL) AS nullsafe_eq
        |FROM customer ORDER BY c_custkey""".stripMargin),
    Query("tx8_fuzzy_match", (s, d) => TextAnalysis.fuzzyMatch(s, d),
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey % 20 = 0 AND b.p_partkey % 20 = 0
        |  AND levenshtein(a.p_name, b.p_name) <= 5 AND a.p_name <> b.p_name
        |ORDER BY key_a, key_b""".stripMargin),
    // TPC-H-style pack 2 (Benchmark2)
    Query("q2_min_cost_supp", (s, d) => Benchmark2.q2MinCostSupplier(s, d),
      """WITH uc AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2),
        |f AS (
        |  SELECT p_partkey, l_suppkey, unit_cost,
        |         min(unit_cost) OVER (PARTITION BY p_partkey) AS min_cost
        |  FROM uc JOIN part ON l_partkey = p_partkey WHERE p_size = 15)
        |SELECT p_partkey, s_suppkey, s_name, n_name, unit_cost
        |FROM f JOIN supplier ON l_suppkey = s_suppkey
        |       JOIN nation ON s_nationkey = n_nationkey
        |WHERE unit_cost = min_cost
        |ORDER BY p_partkey, s_suppkey""".stripMargin),
    Query("q5_region_volume", (s, d) => Benchmark2.q5RegionVolume(s, d),
      """SELECT n_name,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |    AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin),
    Query("q10_returned", (s, d) => Benchmark2.q10ReturnedItems(s, d),
      """SELECT c_custkey, c_name, n_name,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |    AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),
    Query("q12_priority_dist", (s, d) => Benchmark2.q12PriorityDist(s, d),
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    Query("q14_promo_share", (s, d) => Benchmark2.q14PromoShare(s, d),
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                             THEN l_extendedprice * (1 - l_discount)
        |                             ELSE 0.0 END)
        |             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""".stripMargin),
    Query("q18_big_orders", (s, d) => Benchmark2.q18BigOrders(s, d),
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING round(sum(l_quantity), 2) > 300.0)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin),
    Query("q19_disjunction", (s, d) => Benchmark2.q19Disjunction(s, d),
      """SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |         AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // TPC-H-style pack 3: correlated-subquery family (Benchmark3)
    Query("q4_priority_exists", (s, d) => Benchmark3.q4PriorityExists(s, d),
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > CAST(o.o_orderdate AS DATE) + 30)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q15_top_supplier", (s, d) => Benchmark3.q15TopSupplier(s, d),
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |           AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
    Query("q16_supplier_cnt", (s, d) => Benchmark3.q16SupplierCount(s, d),
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_size IN (9, 19, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    Query("q17_small_qty", (s, d) => Benchmark3.q17SmallQuantity(s, d),
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT 0.5 * avg(i.l_quantity) FROM lineitem i
        |                    WHERE i.l_partkey = l.l_partkey)""".stripMargin),
    Query("q20_volume_supp", (s, d) => Benchmark3.q20VolumeSuppliers(s, d),
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%gear%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY l_suppkey HAVING sum(l_quantity) > 400.0)
        |ORDER BY s_suppkey""".stripMargin),
    Query("q21_sole_fault", (s, d) => Benchmark3.q21SoleFaultSupplier(s, d),
      """WITH rl AS (SELECT DISTINCT l_orderkey AS okey, l_suppkey AS skey
        |            FROM lineitem WHERE l_returnflag = 'R'),
        |al AS (SELECT DISTINCT l_orderkey AS okey, l_suppkey AS skey
        |       FROM lineitem)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM rl r JOIN supplier ON r.skey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM al a
        |              WHERE a.okey = r.okey AND a.skey <> r.skey)
        |  AND NOT EXISTS (SELECT 1 FROM rl r2
        |                  WHERE r2.okey = r.okey AND r2.skey <> r.skey)
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey ASC LIMIT 50""".stripMargin),
    Query("q22_idle_cust", (s, d) => Benchmark3.q22IdleCustomers(s, d),
      """SELECT c_mktsegment, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // §2.4 DISTINCT / §2.7 set ops
    Query("d1_distinct", (s, d) => Relational.distinctValues(s, d),
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"),
    Query("s1_union", (s, d) => Relational.setUnion(s, d),
      """SELECT DISTINCT o_custkey FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 1
        |  UNION ALL
        |  SELECT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 2)
        |ORDER BY o_custkey""".stripMargin),
    Query("s2_intersect", (s, d) => Relational.setIntersect(s, d),
      """SELECT o_custkey FROM orders
        |WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 1
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 2
        |ORDER BY o_custkey""".stripMargin),
    Query("s3_except", (s, d) => Relational.setExcept(s, d),
      """SELECT o_custkey FROM orders
        |WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 1
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 2
        |ORDER BY o_custkey""".stripMargin),
    Query("s4_except_all", (s, d) => Relational.setExceptAll(s, d),
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS multiplicity FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 1
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 2)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // §2.6 windows
    Query("w1_topn_per_group", (s, d) => Relational.topNPerGroup(s, d),
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    Query("w3_running_total", (s, d) => Relational.runningRevenue(s, d),
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem WHERE l_suppkey < 3
        |ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber""".stripMargin),
    Query("w4_lag_lead", (s, d) => Windows.lagLeadDeltas(s, d),
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        |  round(o_totalprice - lag(o_totalprice, 1) OVER w, 2) AS delta_prev,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_date, o_orderkey""".stripMargin),
    Query("w5_rank_suite", (s, d) => Windows.rankSuite(s, d),
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_mktsegment, rnk""".stripMargin),
    Query("w6_moving_avg", (s, d) => Windows.movingAvgSales(s, d),
      """WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |         round(sum(o_totalprice), 2) AS day_sales
        |  FROM orders GROUP BY 1)
        |SELECT day, day_sales,
        |  round(avg(day_sales) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
        |  count(*) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_days_in_frame
        |FROM daily ORDER BY day""".stripMargin),
    Query("w7_first_last", (s, d) => Windows.firstLastNav(s, d),
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |  first_value(l_orderkey) OVER w AS first_order,
        |  last_value(l_orderkey) OVER w AS last_order,
        |  nth_value(l_orderkey, 3) OVER w AS third_order
        |FROM lineitem WHERE l_suppkey < 5
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber""".stripMargin),
    Query("w8_range_frame", (s, d) => Windows.trailingSpend(s, d),
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        |  round(sum(o_totalprice) OVER w, 2) AS spend_30d,
        |  count(*) OVER w AS n_orders_30d
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, order_date, o_orderkey""".stripMargin),
    Query("a18_median_mode", (s, d) => Analytics.medianMode(s, d),
      """WITH med AS (
        |  SELECT l_returnflag, round(median(l_quantity), 4) AS median_qty
        |  FROM lineitem GROUP BY l_returnflag),
        |cnts AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_count,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY c DESC, l_quantity ASC) AS rn
        |  FROM cnts)
        |SELECT med.l_returnflag, median_qty, mode_qty, mode_count
        |FROM med JOIN m ON med.l_returnflag = m.l_returnflag AND rn = 1
        |ORDER BY med.l_returnflag""".stripMargin),
    // §2.3 joins (pack 2)
    Query("j7_full_outer", (s, d) => Relational.fullOuterActivity(s, d),
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
        |  c.c_acctbal, o.jan_sales, coalesce(o.n_jan_orders, 0) AS n_jan_orders
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS jan_sales,
        |         count(*) AS n_jan_orders
        |  FROM orders
        |  WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 1
        |  GROUP BY o_custkey) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY custkey""".stripMargin),
    Query("j8_cross_grid", (s, d) => Relational.crossGrid(s, d),
      """SELECT r_name, n_name, (n_regionkey = r_regionkey) AS in_region
        |FROM region CROSS JOIN nation ORDER BY r_name, n_name""".stripMargin),
    // §2.8 scalar functions
    Query("f_scalar_suite", (s, d) => Relational.scalarSuite(s, d),
      """SELECT p_partkey,
        |  p_brand || '#' || p_type AS brand_type,
        |  upper(p_name) AS name_upper,
        |  lower(p_type) AS type_lower,
        |  substring(p_name, 1, 5) AS name_pfx,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
        |  round(p_retailprice * 1.1, 2) AS price_up,
        |  abs(p_size - 25) AS size_dist,
        |  CAST(p_size AS DOUBLE) AS size_d,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor_l
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("f_array_suite", (s, d) => Relational.arraySuite(s, d),
      """SELECT p_partkey,
        |  list_contains(string_split(p_name, ' '), 'widget') AS has_widget,
        |  CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
        |  array_to_string(list_sort(string_split(p_name, ' ')), '|') AS sorted_words,
        |  string_split(p_name, ' ')[1] AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("f_date_suite", (s, d) => FunctionSuites.dateSuite(s, d),
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d')
        |    AS plus_2mo,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d')
        |    AS month_start,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
        |    AS INTEGER) AS days_to_98,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(isodow(o_orderdate) - 1 AS INTEGER) AS wd,
        |  CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin),
    Query("f_string_suite2", (s, d) => FunctionSuites.stringSuite2(s, d),
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS brand_lpad,
        |  rpad(p_brand, 12, '.') AS brand_rpad,
        |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
        |  repeat(p_brand, 2) AS brand_x2,
        |  reverse(p_name) AS name_rev,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
        |  CAST(strpos(p_name, 'a') AS INTEGER) AS first_a,
        |  split_part(p_name, ' ', 2) AS second_word,
        |  trim(lpad(p_type, 10, ' ')) AS type_trim,
        |  regexp_extract(p_brand, '#(\d+)', 1) AS brand_num
        |FROM part WHERE p_partkey < 2000 ORDER BY p_partkey""".stripMargin),
    Query("f_math_suite", (s, d) => FunctionSuites.mathSuite(s, d),
      """SELECT p_partkey,
        |  round(sqrt(p_retailprice), 6) AS sqrt_price,
        |  round(pow(p_size, 2), 1) AS size_sq,
        |  round(exp(p_size / 50.0), 6) AS exp_size,
        |  round(ln(p_retailprice + 1), 6) AS ln_price,
        |  round(log10(p_retailprice + 1), 6) AS log10_price,
        |  CAST(sign(p_size - 25) AS INTEGER) AS size_sign,
        |  p_partkey % 7 AS key_mod7,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  greatest(p_size, 25) AS size_hi,
        |  least(p_size, 25) AS size_lo,
        |  round(sin(p_size / 10.0), 6) AS sin_size,
        |  round(atan2(CAST(p_size AS DOUBLE), p_retailprice), 6) AS atan2_sp
        |FROM part WHERE p_partkey < 2000 ORDER BY p_partkey""".stripMargin),
    // sampling (training-pipeline surface)
    Query("sp1_hash_sample", (s, d) => Sampling.hashSample(s, d),
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY doc_id""".stripMargin),
    Query("sp2_reservoir", (s, d) => Sampling.reservoirPerGroup(s, d),
      """SELECT source, doc_id, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        |  FROM documents) t
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin),
    Query("sp3_stratified", (s, d) => Sampling.stratifiedSample(s, d),
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40' WHEN 'fr' THEN '40'
        |            WHEN 'es' THEN '20' WHEN 'zh' THEN '20' ELSE '00' END
        |ORDER BY doc_id""".stripMargin),
    // §2.10 batch twins of the streaming surface
    Query("st1_hourly_events", (s, d) => Analytics.hourlyEvents(s, d),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Query("st2_sessionize", (s, d) => Analytics.sessionize(s, d),
      """WITH seq AS (
        |  SELECT user_id, value, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flags AS (
        |  SELECT user_id, value, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |           OR (CAST(floor(epoch(ts)) AS BIGINT)
        |               - CAST(floor(epoch(prev_ts)) AS BIGINT)) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM seq),
        |sess AS (
        |  SELECT user_id, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flags)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  round(sum(value), 2) AS session_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    Query("st3_sliding", (s, d) => Analytics.slidingEvents(s, d),
      """WITH expanded AS (
        |  SELECT value,
        |    (TIMESTAMP '1970-01-01 00:00:00'
        |      + CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) * INTERVAL 1 SECOND)
        |      - i * INTERVAL 15 MINUTE AS ws,
        |    ts
        |  FROM events, (SELECT unnest(generate_series(0, 3)) AS i) probes)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM expanded
        |WHERE ts >= ws AND ts < ws + INTERVAL 1 HOUR
        |GROUP BY ws ORDER BY window_start""".stripMargin),
    // north-star M6: deduplication
    Query("dd1_exact_dedup", (s, d) => Dedup.exactDedup(s, d),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),
    Query("dd2_ngram_jaccard", (s, d) => Dedup.ngramJaccardPairs(s, d),
      ngramJaccardOracleSql),
    // dd3/dd4/dd12: the hash chains are portable (h60 + affine
    // permutations), so DuckDB replays the FULL approximate pipelines.
    Query("dd3_minhash_lsh", (s, d) => Dedup.minhashLshPairs(s, d),
      OracleGen.dd3Sql()),
    Query("dd4_simhash", (s, d) => Dedup.simhashPairs(s, d),
      OracleGen.dd4Sql()),
    Query("dd5_dedup_keep", (s, d) => Dedup.dedupKeepSet(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> array_to_string(ws[i:i+2], ' '))) AS g
        |  FROM w),
        |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |drops AS (
        |  SELECT DISTINCT doc_b FROM shared
        |  JOIN cnt ca ON ca.doc_id = doc_a
        |  JOIN cnt cb ON cb.doc_id = doc_b
        |  WHERE CAST(s AS DOUBLE) / (ca.n + cb.n - s) >= 0.5)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_b FROM drops)
        |ORDER BY doc_id""".stripMargin),
    Query("dd7_containment", (s, d) => Dedup.containmentPairs(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> array_to_string(ws[i:i+2], ' '))) AS g
        |  FROM w),
        |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(s AS DOUBLE) / ca.n, 4) AS cont_a_in_b,
        |  round(CAST(s AS DOUBLE) / cb.n, 4) AS cont_b_in_a
        |FROM shared
        |JOIN cnt ca ON ca.doc_id = doc_a
        |JOIN cnt cb ON cb.doc_id = doc_b
        |WHERE round(CAST(s AS DOUBLE) / ca.n, 4) >= 0.8
        |   OR round(CAST(s AS DOUBLE) / cb.n, 4) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("dd8_components", (s, d) => Dedup.dedupComponents(s, d),
      componentsOracleSql),
    Query("dd6_embedding_neardup",
      (s, d) => Similarity.embeddingNearDupPairs(s, d),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),
    // north-star M6: text analysis
    Query("tx1_text_stats", (s, d) => TextAnalysis.textStats(s, d),
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
        |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS avg_token_len,
        |  round(CAST(len(list_filter(string_split(text, ' '), t -> t = 'the')) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("tx2_token_freq", (s, d) => TextAnalysis.tokenFrequency(s, d),
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20""".stripMargin),
    Query("tx3_fingerprints", (s, d) => TextAnalysis.fingerprints(s, d),
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id"),
    Query("tx4_quality_score", (s, d) => TextAnalysis.qualityScore(s, d),
      """SELECT doc_id, round(
        |  (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.4 END) * 0.4
        |  + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
        |  + (1.0 - least(CAST(len(list_filter(ws, t -> t IN ('the', 'a'))) AS DOUBLE)
        |                 / len(ws) * 2.0, 1.0)) * 0.2, 4) AS quality
        |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |ORDER BY doc_id""".stripMargin),
    Query("tx5_lang_id", (s, d) => TextAnalysis.langId(s, d),
      s"""WITH ${operators.TextAnalysis.langIdOracleCtes}
        |SELECT doc_id, lang, lng AS predicted FROM ranked
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    Query("tx6_token_counts", (s, d) => TextAnalysis.tokenCounts(s, d),
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    // tx7: md5 hex strings min-compare identically in both engines
    // (the 100 TB path swaps in xxhash64 — see the operator scaladoc).
    Query("tx7_winnowing", (s, d) => TextAnalysis.winnowingFingerprints(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |p AS (SELECT doc_id, ws,
        |        unnest(generate_series(1, len(ws) - 2)) AS pos
        |      FROM w),
        |g AS (SELECT doc_id, pos,
        |        md5(array_to_string(ws[pos:pos+2], ' ')) AS gh
        |      FROM p),
        |m AS (SELECT doc_id,
        |        min(gh) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |      FROM g)
        |SELECT DISTINCT doc_id, fp FROM m ORDER BY doc_id, fp""".stripMargin),
    Query("tx9_normalize", (s, d) => TextAnalysis.normalizeText(s, d),
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("tx10_redact", (s, d) => TextAnalysis.redactPii(s, d),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted,
        |  CAST(length(text) - length(
        |    regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g')) AS INTEGER) AS length_delta
        |FROM documents ORDER BY doc_id""".stripMargin),
    // north-star M6: similarity search
    Query("sim1_cosine_topk", (s, d) => Similarity.cosineTopK(s, d),
      """SELECT b.vec_id, b.label,
        |  round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                               CAST(a.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id = 0 AND b.vec_id <> 0
        |ORDER BY cos_sim DESC, b.vec_id ASC LIMIT 10""".stripMargin),
    Query("sim2_top_pairs", (s, d) => Similarity.topSimilarPairs(s, d),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0
        |ORDER BY cos_sim DESC, id_a, id_b LIMIT 20""".stripMargin),
    // sim3/sim4/sim8: the ANN math is portable (explicit left-assoc
    // double dots, literal planes, table-derived centroids), so
    // DuckDB replays the index content + probe + re-rank exactly.
    Query("sim3_lsh_ann", (s, d) => Similarity.lshAnn(s, d),
      OracleGen.sim3Sql()),
    Query("sim4_ivf_ann", (s, d) => Similarity.ivfAnn(s, d),
      OracleGen.sim4Sql()),
    Query("sim5_range_search", (s, d) => Similarity.rangeSearch(s, d),
      """SELECT b.vec_id, b.label,
        |  round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                               CAST(a.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id = 0 AND b.vec_id <> 0
        |  AND list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])) >= 0.25
        |ORDER BY b.vec_id""".stripMargin),
    Query("sim6_knn_join", (s, d) => Similarity.knnJoin(s, d),
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                 CAST(q.q_emb AS DOUBLE[])), 4) AS cos_sim
        |  FROM c CROSS JOIN q),
        |ranked AS (
        |  SELECT query_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos_sim DESC, vec_id ASC) AS rnk
        |  FROM scored)
        |SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin),
    Query("km1_centroid_assign", (s, d) => Similarity.nearestCentroid(s, d),
      """WITH c AS (
        |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
        |  WHERE vec_id < 4),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(c.cemb AS DOUBLE[])) AS sim,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(c.cemb AS DOUBLE[])) DESC,
        |      c.cid ASC) AS rn
        |  FROM embeddings e CROSS JOIN c)
        |SELECT CAST(cid AS INTEGER) AS cluster, count(*) AS n_members,
        |  round(avg(sim), 4) AS avg_sim, round(min(sim), 4) AS min_sim
        |FROM scored WHERE rn = 1
        |GROUP BY cid ORDER BY cluster""".stripMargin),
    Query("km3_lloyd_converged", (s, d) => Similarity.lloydConvergence(s, d),
      OracleGen.km3Sql()),
    Query("dd15_semantic_dedup", (s, d) => Similarity.semanticDedupPairs(s, d),
      OracleGen.dd15Sql()),
    Query("dd16_doc_neardup_probe", (s, d) => Dedup.docNearDupProbe(s, d),
      OracleGen.dd16Sql()),
    Query("dd17_incremental_index", (s, d) => Dedup.incrementalLshPairs(s, d),
      OracleGen.dd17Sql()),
    // north-star M6: end-to-end corpus selection
    Query("dp1_corpus_select", (s, d) => Pipeline.corpusSelect(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |q AS (
        |  SELECT doc_id, round(
        |    (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.4 END) * 0.4
        |    + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
        |    + (1.0 - least(CAST(len(list_filter(ws, t -> t IN ('the', 'a')))
        |                        AS DOUBLE) / len(ws) * 2.0, 1.0)) * 0.2, 4)
        |    AS quality
        |  FROM w),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> array_to_string(ws[i:i+2], ' '))) AS g
        |  FROM w),
        |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |drops AS (
        |  SELECT DISTINCT doc_b FROM shared
        |  JOIN cnt ca ON ca.doc_id = doc_a
        |  JOIN cnt cb ON cb.doc_id = doc_b
        |  WHERE CAST(s AS DOUBLE) / (ca.n + cb.n - s) >= 0.5)
        |SELECT d.doc_id, d.source,
        |  CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_tokens,
        |  q.quality
        |FROM documents d JOIN q ON q.doc_id = d.doc_id
        |WHERE d.lang = 'en'
        |  AND len(string_split(d.text, ' ')) BETWEEN 20 AND 2000
        |  AND q.quality >= 0.55
        |  AND d.doc_id NOT IN (SELECT doc_b FROM drops)
        |ORDER BY d.doc_id""".stripMargin),
    // sketches: frequency + membership (HLL/t-digest live in a8/a12)
    // cms1: sketch audit — exact per-key counts hash-match; est_ok
    // asserts exact <= estimate <= exact + eps*N (the CMS guarantee).
    Query("cms1_heavy_hitters", (s, d) => Sketches.cmsHeavyHitters(s, d),
      """WITH keys AS (SELECT unnest(generate_series(1, 20)) AS l_suppkey),
        |cnt AS (SELECT l_suppkey, count(*) AS c FROM lineitem
        |        WHERE l_suppkey BETWEEN 1 AND 20 GROUP BY 1)
        |SELECT k.l_suppkey,
        |  CAST(coalesce(cnt.c, 0) AS BIGINT) AS exact_count,
        |  TRUE AS est_ok
        |FROM keys k LEFT JOIN cnt USING (l_suppkey)
        |ORDER BY l_suppkey""".stripMargin),
    Query("mg1_frequent_tokens", (s, d) => Sketches.mgHeavyHitters(s, d),
      operators.Sketches.mgHeavyHittersOracleSql()),
    Query("bf1_bloom_semi", (s, d) => Sketches.bloomSemiJoin(s, d),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_custkey = o.o_custkey
        |                AND c.c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin),
    // a29: sketch-reaggregation audit — exact distincts hash-match;
    // est_ok asserts the monthly HLL estimates AND the union-merged
    // TOTAL estimate stay within 3·rsd of exact (the a8/cms1 pattern).
    Query("a29_sketch_reagg", (s, d) => Sketches.sketchReagg(s, d),
      """SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INTEGER) AS ym,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
        |  TRUE AS est_ok
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT 999999, CAST(count(DISTINCT o_custkey) AS BIGINT), TRUE
        |FROM orders
        |ORDER BY ym""".stripMargin),
    // derived physical layouts: partition pruning + bucketed co-location
    // pp1/bk1: derived physical layouts — same results as the raw
    // tables (the oracle reads RAW parquet), different plans: pp1's
    // date slice prunes whole day directories, bk1's fact-fact join
    // shuffles neither side (MartsSpec pins both plan shapes).
    Query("pp1_partition_prune",
      (s, d) => graft.sources.Marts.partitionPrunedDaily(s, d),
      """SELECT CAST(ts AS DATE) AS event_date,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  round(sum(value), 2) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
        |  AND CAST(ts AS DATE) <  DATE '2024-01-13'
        |GROUP BY 1 ORDER BY event_date""".stripMargin),
    Query("bk1_bucketed_join", (s, d) => graft.sources.Marts.bucketedJoin(s, d),
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
    Query("zo1_zorder_keys", (s, d) => graft.sources.Marts.zorderTopKeys(s, d),
      OracleGen.zo1Sql()),
    // north-star M6: multimodal plumbing
    Query("mm1_media_meta", (s, d) => Multimodal.mediaMeta(s, d),
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    // mm2: the decode is REAL (ImageIO over the mixed PNG+JPEG
    // fixture); the oracle replays the closed form each format painted
    // — dimensions from doc_id, luma as the per-pixel PNG form or the
    // blockwise-constant JPEG form (8-bit grayscale PNG is lossless;
    // the quality-1.0 JPEG of 8x8-constant blocks round-trips
    // bit-exact too — DataOpsSpec pins both), so decoded samples ==
    // painted samples, exactly.
    Query("mm2_media_features", (s, d) => Multimodal.mediaFeatures(s, d),
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 14 + 3 AS INTEGER) AS width,
        |    CAST(doc_id % 11 + 3 AS INTEGER) AS height
        |  FROM documents),
        |xs AS (SELECT doc_id, width, height,
        |    unnest(generate_series(0, CAST(width AS BIGINT) - 1)) AS x
        |  FROM dims),
        |px AS (SELECT doc_id, width, height, x,
        |    unnest(generate_series(0, CAST(height AS BIGINT) - 1)) AS y
        |  FROM xs)
        |SELECT doc_id, width, height,
        |  CAST(sum((CASE WHEN doc_id % 3 = 0
        |      THEN (doc_id * 37 + 11 * (x // 8) + 17 * (y // 8)) % 256
        |      ELSE (doc_id * 31 + 7 * x + 13 * y) % 256 END)) AS BIGINT)
        |    AS luma_sum
        |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin),
    Query("mm3_frame_sample", (s, d) => Multimodal.frameSample(s, d),
      """SELECT doc_id, CAST((frame_start - 1) // 256 AS INTEGER) AS frame_no,
        |  CAST(frame_start AS INTEGER) AS frame_start,
        |  md5(substring(text, frame_start, 64)) AS frame_md5
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(1, length(text) - 63, 256)) AS frame_start
        |      FROM documents WHERE length(text) >= 64)
        |ORDER BY doc_id, frame_no""".stripMargin),
    // TPC-H-style pack 4: the remaining classic shapes (Benchmark4)
    Query("q7_nation_volume", (s, d) => Benchmark4.q7NationVolume(s, d),
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
        |    AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_3', 'NATION_7')
        |  AND n2.n_name IN ('NATION_3', 'NATION_7')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Query("q8_mkt_share", (s, d) => Benchmark4.q8MarketShare(s, d),
      """SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |                      ELSE 0 END) AS DOUBLE)
        |        / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year, n1.n_name AS supp_nation,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev
        |  FROM lineitem
        |  JOIN part     ON l_partkey = p_partkey
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region   ON n2.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin),
    Query("q9_product_profit", (s, d) => Benchmark4.q9ProductProfit(s, d),
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      - CAST(round(p_retailprice * 100) AS BIGINT) * 60
        |        * CAST(l_quantity AS BIGINT)) / 10000.0 AS profit
        |FROM lineitem
        |JOIN part     ON l_partkey = p_partkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),
    Query("q11_top_parts", (s, d) => Benchmark4.q11ImportantParts(s, d),
      """WITH pp AS (
        |  SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_5')
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(value_cents AS BIGINT) / 100.0 AS value
        |FROM pp
        |WHERE value_cents > (SELECT sum(value_cents) * 0.001 FROM pp)
        |ORDER BY value DESC, l_partkey""".stripMargin),
    Query("q13_cust_dist", (s, d) => Benchmark4.q13CustomerDistribution(s, d),
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // training-data prep pack (DataPrep)
    Query("dp2_split_assign", (s, d) => DataPrep.splitAssign(s, d),
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 100 AS bucket
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),
    Query("dp3_token_pack", (s, d) => DataPrep.tokenBudgetPack(s, d),
      """SELECT doc_id, source, n_chars,
        |  CAST(prefix_chars AS BIGINT) AS prefix_chars,
        |  CAST(floor(prefix_chars / 16384.0) AS BIGINT) AS bin_id
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prefix_chars
        |  FROM documents) t
        |ORDER BY source, doc_id""".stripMargin),
    Query("dp4_length_hist", (s, d) => DataPrep.lengthHistogram(s, d),
      """SELECT length(bin(CAST(n_chars AS BIGINT))) - 1 AS log2_bucket,
        |  count(*) AS n_docs, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("dp5_source_stats", (s, d) => DataPrep.sourceStats(s, d),
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT lang) AS n_langs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  max(n_chars) AS max_chars,
        |  round(CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
        |             AS DOUBLE) * 100.0 / count(*), 6) AS pct_long
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Query("a19_unpivot", (s, d) => DataPrep.unpivotStatus(s, d),
      """SELECT o_orderpriority, status, n FROM (
        |  SELECT o_orderpriority,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS "F",
        |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS "O",
        |    CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS "P"
        |  FROM orders GROUP BY o_orderpriority) t
        |UNPIVOT (n FOR status IN ("F", "O", "P"))
        |ORDER BY o_orderpriority, status""".stripMargin),
    Query("f_hof_suite", (s, d) => DataPrep.hofSuite(s, d),
      """SELECT p_partkey,
        |  array_to_string(xs, '|') AS xs_str,
        |  array_to_string(list_transform(xs, x -> x * 3 + 1), '|') AS tripled,
        |  array_to_string(list_filter(xs, x -> x % 2 = 0), '|') AS evens,
        |  CAST(list_sum(list_transform(xs, x -> CAST(x AS BIGINT) * x))
        |       AS BIGINT) AS sum_sq,
        |  array_to_string(list_transform(xs, x -> x * (k + 1 - x)), '|')
        |    AS palindrome_prod,
        |  array_to_string(list_slice(
        |    list_sort(list_transform(xs, x -> (x * p_partkey) % 7), 'DESC'),
        |    1, 3), '|') AS top3_mod,
        |  len(list_filter(xs, x -> x % 4 = 0)) > 0 AS has_mult4,
        |  len(list_filter(xs, x -> NOT (x > 0))) = 0 AS all_pos
        |FROM (
        |  SELECT p_partkey, CAST(p_partkey % 5 + 3 AS INTEGER) AS k,
        |    list_transform(range(1, CAST(p_partkey % 5 + 4 AS INTEGER)),
        |      x -> CAST(x AS INTEGER)) AS xs
        |  FROM part) t
        |ORDER BY p_partkey""".stripMargin),
    Query("w9_dist_cumsum", (s, d) => DataPrep.distributedCumsum(s, d),
      """SELECT o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       OVER (ORDER BY o_orderkey) AS BIGINT) / 100.0 AS cum_spend
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // round-3 pack: decontamination, repetition/quality, domain mixing,
    // gap-fill, higher moments, cross-modal audit, k-means M-step
    Query("dd9_decontaminate", (s, d) => Dedup.decontaminate(s, d),
      decontamOracleSql),
    // the SAME relation through the scale path (bloom-prefilter on the
    // gram hash + shuffled equi-join instead of the eval broadcast);
    // shares dd9's oracle — the gate proves the two paths identical
    Query("dd9_decontam_shuffled",
      (s, d) => Dedup.decontaminate(s, d, broadcastEval = false),
      decontamOracleSql),
    Query("tx11_repetition", (s, d) => TextAnalysis.repetitionStats(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |           i -> array_to_string(ws[i:i+1], ' '))) AS bigram
        |  FROM w),
        |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  count(*) AS n_distinct,
        |  round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4)
        |    AS dup_ratio,
        |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_share
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("dp6_domain_mix", (s, d) => DataPrep.domainMix(s, d),
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT count(*) AS n_total FROM documents),
        |f AS (SELECT lang,
        |        CAST(CASE lang WHEN 'en' THEN 0.3 WHEN 'de' THEN 0.2
        |             WHEN 'fr' THEN 0.2 WHEN 'es' THEN 0.15
        |             WHEN 'zh' THEN 0.15 ELSE 0.0 END AS DOUBLE)
        |          * n_total / n_lang AS factor
        |      FROM c, t),
        |r AS (SELECT d.doc_id, d.lang,
        |        CAST(floor(f.factor
        |          + CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |                      AS BIGINT) AS DOUBLE) / 4294967296.0) AS BIGINT)
        |          AS n_repeats
        |      FROM documents d JOIN f ON d.lang = f.lang)
        |SELECT doc_id, lang,
        |  CAST(unnest(generate_series(1, n_repeats)) AS INTEGER) AS copy_id
        |FROM r WHERE n_repeats >= 1 ORDER BY doc_id, copy_id""".stripMargin),
    Query("w10_gapfill", (s, d) => DataPrep.calendarGapFill(s, d),
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      / 100.0 AS sales,
        |    count(*) AS n_orders
        |  FROM orders
        |  WHERE year(o_orderdate) = 1996 AND o_totalprice > 450000.0
        |  GROUP BY 1),
        |cal AS (
        |  SELECT CAST(unnest(generate_series(DATE '1996-01-01',
        |    DATE '1996-12-31', INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT strftime(cal.day, '%Y-%m-%d') AS day,
        |  coalesce(daily.sales, 0.0) AS sales,
        |  coalesce(daily.n_orders, 0) AS n_orders,
        |  daily.sales IS NULL AS is_gap
        |FROM cal LEFT OUTER JOIN daily ON cal.day = daily.day
        |ORDER BY day""".stripMargin),
    Query("a20_moments", (s, d) => Analytics.momentsSuite(s, d),
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(CAST(l_quantity AS DOUBLE)) AS s1,
        |    sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS s2,
        |    sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
        |        * CAST(l_quantity AS DOUBLE)) AS s3,
        |    sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
        |        * CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS s4
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  round(s1 / n, 6) AS mean_qty,
        |  round(s2 / n - (s1 / n) * (s1 / n), 6) AS var_pop_qty,
        |  round((s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |         + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
        |        / ((s2 / n - (s1 / n) * (s1 / n))
        |           * sqrt(s2 / n - (s1 / n) * (s1 / n))), 6) AS skew_qty,
        |  round((s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |         + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |         - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |        / ((s2 / n - (s1 / n) * (s1 / n))
        |           * (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 6) AS kurt_qty
        |FROM b ORDER BY l_returnflag""".stripMargin),
    Query("mm4_label_lang", (s, d) => Multimodal.labelLangProfile(s, d),
      """SELECT label, lang, count(*) AS n_docs,
        |  round(avg(n_chars), 4) AS avg_chars, max(n_chars) AS max_chars
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY label, lang ORDER BY label, lang""".stripMargin),
    Query("mm5_frame_dedup", (s, d) => Multimodal.frameDedup(s, d),
      """SELECT frame_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_frames
        |FROM (SELECT doc_id, md5(substring(text, frame_start, 64)) AS frame_md5
        |      FROM (SELECT doc_id, text,
        |              unnest(generate_series(1, length(text) - 63, 256))
        |                AS frame_start
        |            FROM documents WHERE length(text) >= 64))
        |GROUP BY frame_md5 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, frame_md5 ASC LIMIT 25""".stripMargin),
    // w15: exact integer TWAP — value in micro-units times gap seconds,
    // one double division at the end (the lineRevenueCents rule)
    Query("w15_twap", (s, d) => Windows.twapDaily(s, d),
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    strftime(ts, '%Y-%m-%d') AS day,
        |    epoch_us(ts) // 1000000 AS sec
        |  FROM events),
        |g AS (
        |  SELECT user_id, day, value,
        |    coalesce(lead(sec) OVER (PARTITION BY user_id, day
        |                             ORDER BY ts, event_id), sec) - sec
        |      AS gap_s
        |  FROM e),
        |f AS (SELECT user_id, day,
        |        CAST(round(value * 1000000) AS BIGINT) AS v_micro, gap_s
        |      FROM g WHERE gap_s > 0)
        |SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_obs,
        |  CAST(sum(gap_s) AS BIGINT) AS total_s,
        |  round((CAST(sum(v_micro * gap_s) AS DOUBLE) / 1000000.0)
        |        / CAST(sum(gap_s) AS DOUBLE), 6) AS twap
        |FROM f GROUP BY user_id, day HAVING count(*) >= 2
        |ORDER BY user_id, day""".stripMargin),
    // dd18: dd8's component chain + tx4's quality, one argmax per
    // component (quality DESC, doc_id ASC)
    Query("dd18_cluster_reps", (s, d) => Dedup.clusterRepresentatives(s, d),
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |q AS (
        |  SELECT doc_id, round(
        |    (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.4 END) * 0.4
        |    + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
        |    + (1.0 - least(CAST(len(list_filter(ws, t -> t IN ('the', 'a')))
        |                        AS DOUBLE) / len(ws) * 2.0, 1.0)) * 0.2, 4)
        |    AS quality
        |  FROM w),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> array_to_string(ws[i:i+2], ' '))) AS g
        |  FROM w),
        |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM shared
        |  JOIN cnt ca ON ca.doc_id = doc_a
        |  JOIN cnt cb ON cb.doc_id = doc_b
        |  WHERE CAST(s AS DOUBLE) / (ca.n + cb.n - s) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
        |reach(doc, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.doc),
        |comp AS (SELECT doc AS doc_id, min(r) AS comp FROM reach GROUP BY doc),
        |jq AS (SELECT c.comp, c.doc_id, q.quality
        |       FROM comp c JOIN q ON q.doc_id = c.doc_id),
        |best AS (
        |  SELECT comp, doc_id, quality,
        |    row_number() OVER (PARTITION BY comp
        |                       ORDER BY quality DESC, doc_id ASC) AS rn
        |  FROM jq),
        |m AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_members
        |      FROM jq GROUP BY comp)
        |SELECT b.comp, b.doc_id AS rep_doc, b.quality AS rep_quality,
        |  m.n_members
        |FROM best b JOIN m ON m.comp = b.comp
        |WHERE b.rn = 1 ORDER BY b.comp""".stripMargin),
    Query("km2_centroid_update", (s, d) => Similarity.centroidUpdate(s, d),
      """WITH c AS (
        |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
        |  WHERE vec_id < 4),
        |assign AS (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(c.cemb AS DOUBLE[])) DESC,
        |      c.cid ASC) AS rn
        |  FROM embeddings e CROSS JOIN c),
        |members AS (
        |  SELECT CAST(cid AS INTEGER) AS cluster, embedding
        |  FROM assign WHERE rn = 1),
        |expanded AS (
        |  SELECT cluster, CAST(i - 1 AS INTEGER) AS dim,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM (SELECT cluster, embedding,
        |          unnest(generate_series(1, len(embedding))) AS i
        |        FROM members))
        |SELECT cluster, dim, count(*) AS n_members,
        |  round(avg(v), 4) AS centroid
        |FROM expanded GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin),
    Query("w11_funnel", (s, d) => Windows.conversionFunnel(s, d),
      """WITH e AS (
        |  SELECT user_id, ts, event_type, event_id FROM events
        |  WHERE event_type IN ('view', 'purchase')),
        |m AS (
        |  SELECT user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_view_ts
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_views,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |             AND last_view_ts IS NOT NULL
        |             AND floor(epoch(ts)) - floor(epoch(last_view_ts)) <= 3600
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |  round(CAST(sum(CASE WHEN event_type = 'purchase'
        |                   AND last_view_ts IS NOT NULL
        |                   AND floor(epoch(ts)) - floor(epoch(last_view_ts)) <= 3600
        |                 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / nullif(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
        |                 0), 4) AS conv_rate
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("f_bitwise_suite", (s, d) => FunctionSuites.bitwiseSuite(s, d),
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS and_lo,
        |  o_orderkey | 4096 AS or_hi,
        |  xor(o_orderkey, 12345) AS xor_k,
        |  (o_orderkey << 3) AS shl3,
        |  (o_orderkey >> 2) AS shr2,
        |  CAST(bit_count(o_orderkey) AS INTEGER) AS popcnt,
        |  ~o_orderkey AS flipped
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin),
    Query("w12_pareto", (s, d) => Windows.paretoShare(s, d),
      """WITH a AS (
        |  SELECT o_orderpriority,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM a)
        |SELECT o_orderpriority,
        |  cents / 100.0 AS sales,
        |  round(100.0 * CAST(cents AS DOUBLE) / CAST(tot AS DOUBLE), 4) AS pct,
        |  round(100.0 * CAST(CAST(sum(cents) OVER
        |      (ORDER BY cents DESC, o_orderpriority
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS DOUBLE) / CAST(tot AS DOUBLE), 4) AS cum_pct
        |FROM a, t ORDER BY sales DESC, o_orderpriority""".stripMargin),
    Query("dp7_chunk", (s, d) => DataPrep.chunkDocuments(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |st AS (SELECT doc_id, ws,
        |         unnest(generate_series(1, len(ws), 24)) AS start
        |       FROM w)
        |SELECT doc_id, CAST((start - 1) // 24 AS INTEGER) AS chunk_id,
        |  CAST(least(len(ws) - start + 1, 32) AS INTEGER) AS n_tokens,
        |  array_to_string(ws[start:start+31], ' ') AS chunk
        |FROM st
        |WHERE start = 1 OR start - 24 + 31 < len(ws)
        |ORDER BY doc_id, chunk_id""".stripMargin),
    // f_map_struct: the Spark side routes values through map/struct
    // types; the oracle computes the same values directly, proving the
    // complex-type plumbing is value-preserving.
    Query("f_map_struct", (s, d) => FunctionSuites.mapStructSuite(s, d),
      """SELECT p_partkey,
        |  p_size * 2 AS m_double,
        |  3 AS m_size,
        |  'base|double|triple' AS m_keys,
        |  true AS m_has_triple,
        |  p_size AS st_sz,
        |  round(p_retailprice, 2) AS st_price,
        |  p_brand AS st_brand,
        |  CAST(100 + p_size AS VARCHAR) || '|'
        |    || CAST(200 + p_size * 10 AS VARCHAR) AS arr_kv
        |FROM part WHERE p_partkey < 2000 ORDER BY p_partkey""".stripMargin),
    Query("tx12_tfidf", (s, d) => TextAnalysis.tfidfTopTerms(s, d),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.token, tf.tf,
        |    round(tf.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
        |      AS tfidf
        |  FROM tf JOIN df ON tf.token = df.token, n),
        |r AS (SELECT doc_id, token, tf, tfidf,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, token ASC) AS rk
        |      FROM scored)
        |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, tfidf,
        |  CAST(rk AS INTEGER) AS rk
        |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin),
    Query("dd10_incremental", (s, d) => Dedup.incrementalDedup(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> array_to_string(ws[i:i+2], ' '))) AS g
        |  FROM w),
        |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT i.doc_id AS inc_doc, e.doc_id AS ex_doc, count(*) AS s
        |  FROM grams i JOIN grams e ON i.g = e.g
        |  WHERE i.doc_id % 4 = 0 AND e.doc_id % 4 <> 0
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT inc_doc, ex_doc, CAST(s AS DOUBLE) / (ci.n + ce.n - s) AS jac
        |  FROM shared
        |  JOIN cnt ci ON ci.doc_id = inc_doc
        |  JOIN cnt ce ON ce.doc_id = ex_doc),
        |r AS (SELECT inc_doc, ex_doc, jac,
        |        row_number() OVER (PARTITION BY inc_doc
        |                           ORDER BY jac DESC, ex_doc ASC) AS rk
        |      FROM j WHERE jac >= 0.5)
        |SELECT inc_doc, ex_doc AS match_doc, round(jac, 4) AS jaccard
        |FROM r WHERE rk = 1 ORDER BY inc_doc""".stripMargin),
    Query("st4_hourly_top", (s, d) => Analytics.hourlyTopTypes(s, d),
      """WITH agg AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT hour, event_type, n,
        |        row_number() OVER (PARTITION BY hour
        |                           ORDER BY n DESC, event_type ASC) AS rk
        |      FROM agg)
        |SELECT hour, event_type, n, CAST(rk AS INTEGER) AS rk
        |FROM r WHERE rk <= 2 ORDER BY hour, rk""".stripMargin),
    Query("sq1_event_seq", (s, d) => DataPrep.userEventSequences(s, d),
      """SELECT user_id, count(*) AS n_events,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
        |FROM events WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("dp8_interleave", (s, d) => DataPrep.interleaveSources(s, d),
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |       AS INTEGER) AS rn
        |FROM documents ORDER BY rn, source, doc_id""".stripMargin),
    Query("sq2_transitions", (s, d) => DataPrep.eventTransitions(s, d),
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM seq
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE)
        |        / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin),
    Query("a22_outliers", (s, d) => Analytics.outlierFlags(s, d),
      """WITH st AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(CAST(l_quantity AS BIGINT)) AS s1,
        |    sum(CAST(l_quantity * l_quantity AS BIGINT)) AS s2
        |  FROM lineitem GROUP BY l_returnflag),
        |mu AS (SELECT l_returnflag, CAST(s1 AS DOUBLE) / n AS mu,
        |         sqrt(CAST(s2 AS DOUBLE) / n
        |              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |           AS sigma
        |       FROM st)
        |SELECT l.l_returnflag, l_orderkey, l_linenumber,
        |  l_quantity AS qty,
        |  round((l_quantity - mu) / sigma, 4) AS z
        |FROM lineitem l JOIN mu ON l.l_returnflag = mu.l_returnflag
        |WHERE abs((l_quantity - mu) / sigma) > 1.5
        |ORDER BY l.l_returnflag, l_orderkey, l_linenumber, qty""".stripMargin),
    // round-4 pack: histogram profiling, weighted stats, retention,
    // rolling actives, PMI collocations, regex family, source quotas,
    // normalized dedup
    Query("a23_histogram", (s, d) => Analytics.totalpriceHistogram(s, d),
      """SELECT CAST(floor(o_totalprice / 25000.0) AS INTEGER) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),
    Query("a24_weighted", (s, d) => Analytics.weightedStats(s, d),
      """WITH t AS (
        |  SELECT l_returnflag,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sw,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * CAST(l_quantity AS BIGINT)) AS swx,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS swx2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |  round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS w_mean,
        |  round(CAST(swx2 AS DOUBLE) / CAST(sw AS DOUBLE)
        |        - (CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE))
        |          * (CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)), 6) AS w_var
        |FROM t ORDER BY l_returnflag""".stripMargin),
    Query("st5_retention", (s, d) => Analytics.dayRetention(s, d),
      """WITH pairs AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |nxt AS (SELECT day - INTERVAL 1 DAY AS day, user_id AS u2 FROM pairs)
        |SELECT strftime(p.day, '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS dau,
        |  CAST(count(u2) AS BIGINT) AS retained,
        |  round(CAST(count(u2) AS DOUBLE) / count(*), 4) AS retention
        |FROM pairs p LEFT JOIN nxt ON p.day = nxt.day AND p.user_id = nxt.u2
        |GROUP BY p.day ORDER BY day""".stripMargin),
    Query("st6_rolling_wau", (s, d) => Analytics.rollingWau(s, d),
      """WITH pairs AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM pairs),
        |ends AS (
        |  SELECT p.day + k * INTERVAL 1 DAY AS wend, p.user_id
        |  FROM pairs p, range(0, 7) r(k))
        |SELECT strftime(e.wend, '%Y-%m-%d') AS window_end,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
        |FROM ends e JOIN days dy ON e.wend = dy.day
        |GROUP BY e.wend ORDER BY window_end""".stripMargin),
    Query("tx13_collocations", (s, d) => TextAnalysis.pmiCollocations(s, d),
      """WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS n
        |        FROM (SELECT unnest(ws) AS t FROM ws) GROUP BY t),
        |tot AS (SELECT sum(n) AS big_n FROM uni),
        |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab FROM (
        |  SELECT unnest(list_transform(range(1, len(ws)),
        |                               i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |  FROM ws) GROUP BY bigram HAVING count(*) >= 5)
        |SELECT bigram, n_ab, ua.n AS n_a, ub.n AS n_b,
        |  round(CAST(n_ab AS DOUBLE) * CAST(big_n AS DOUBLE)
        |        / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)), 4) AS lift
        |FROM bi
        |JOIN uni ua ON split_part(bigram, ' ', 1) = ua.t
        |JOIN uni ub ON split_part(bigram, ' ', 2) = ub.t
        |CROSS JOIN tot
        |ORDER BY CAST(n_ab AS DOUBLE) * CAST(big_n AS DOUBLE)
        |         / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) DESC,
        |  bigram ASC LIMIT 20""".stripMargin),
    Query("f_regex_suite", (s, d) => FunctionSuites.regexSuite(s, d),
      """SELECT doc_id,
        |  regexp_extract(text, '\bs[a-z]+') AS first_s_word,
        |  CAST(len(regexp_extract_all(text, '\btable\b')) AS BIGINT) AS n_table,
        |  CAST(regexp_matches(text, 'hash join') AS INTEGER) AS has_hash_join,
        |  regexp_extract(text, '\b([a-z]{8,})\b', 1) AS first_long_word,
        |  length(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("dp9_source_quota", (s, d) => DataPrep.sourceQuota(s, d),
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |         ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS rk
        |  FROM documents)
        |SELECT source, doc_id, n_chars, rk FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin),
    Query("dd11_norm_dedup", (s, d) => Dedup.normalizedDedup(s, d),
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT doc_id, fp,
        |  min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
        |  CAST(doc_id <> min(doc_id) OVER (PARTITION BY fp) AS INTEGER) AS is_dup
        |FROM f ORDER BY doc_id""".stripMargin),
    Query("j9_interval_overlap", (s, d) => Relational.intervalOverlapJoin(s, d),
      """WITH iv AS (
        |  SELECT l_partkey, l_orderkey,
        |    min(l_shipdate) AS s,
        |    max(l_shipdate + (3 + CAST(l_quantity AS INTEGER) % 14)
        |        * INTERVAL 1 DAY) AS e
        |  FROM lineitem WHERE l_partkey % 200 = 0
        |  GROUP BY l_partkey, l_orderkey)
        |SELECT a.l_partkey, a.l_orderkey AS okey_a, b.l_orderkey AS okey_b,
        |  CAST(date_diff('second', greatest(a.s, b.s), least(a.e, b.e))
        |       AS BIGINT) AS overlap_secs
        |FROM iv a JOIN iv b
        |  ON a.l_partkey = b.l_partkey AND a.l_orderkey < b.l_orderkey
        |WHERE a.s <= b.e AND b.s <= a.e
        |ORDER BY a.l_partkey, okey_a, okey_b""".stripMargin),
    Query("sim7_quantize", (s, d) => Similarity.vecQuantizeAudit(s, d),
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS dv,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |                            x -> abs(x))) AS max_abs_raw
        |  FROM embeddings)
        |SELECT vec_id, label,
        |  round(sqrt(list_sum(list_transform(dv, x -> x * x))), 4) AS l2_norm,
        |  round(max_abs_raw, 6) AS max_abs,
        |  round(list_sum(list_transform(dv,
        |      x -> abs(x - floor(x * (127.0 / max_abs_raw) + 0.5)
        |                  / (127.0 / max_abs_raw)))) / len(dv), 8) AS mean_qerr
        |FROM v ORDER BY vec_id""".stripMargin),
    // dd12_lsh_audit: LSH candidate generation is not SQL-expressible in
    // DuckDB — rows-only check; Pack6Spec asserts the recall floor.
    Query("a25_mad", (s, d) => Analytics.madStats(s, d),
      """WITH m AS (
        |  SELECT l_returnflag,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  round(any_value(med), 4) AS med_qty,
        |  round(percentile_cont(0.5) WITHIN GROUP
        |        (ORDER BY abs(l_quantity - med)), 4) AS mad_qty
        |FROM lineitem l JOIN m USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin),
    Query("w13_cohort", (s, d) => Analytics.cohortRetention(s, d),
      """WITH pairs AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM pairs GROUP BY 1)
        |SELECT strftime(date_trunc('week', cohort_day), '%Y-%m-%d')
        |    AS cohort_week,
        |  CAST(floor(date_diff('day', cohort_day, day) / 7) AS INTEGER)
        |    AS week_offset,
        |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
        |FROM pairs p JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin),
    Query("dd12_lsh_audit", (s, d) => Dedup.lshRecallAudit(s, d),
      OracleGen.dd12Sql()),
    Query("dd13_boilerplate", (s, d) => Dedup.boilerplateSpans(s, d),
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws
        |            FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |         ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
        |         ws[i+6] || ' ' || ws[i+7])) AS gram
        |  FROM ws WHERE len(ws) >= 8)
        |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 3
        |ORDER BY n_docs DESC, n_occurrences DESC, gram ASC
        |LIMIT 25""".stripMargin),
    // sim8_ann_recall: LSH/IVF candidate generation is not
    // SQL-expressible in DuckDB — rows-only; Pack6Spec pins invariants.
    Query("a26_linear_fit", (s, d) => Analytics.linearFit(s, d),
      """WITH t AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_quantity AS BIGINT)) AS sx,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |    sum(CAST(l_quantity AS BIGINT)
        |        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dxx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dyy,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM t)
        |SELECT l_returnflag, n,
        |  round(num / dxx, 6) AS slope_cents,
        |  round((syd - num / dxx * sxd) / CAST(n AS DOUBLE), 6)
        |    AS intercept_cents,
        |  round((num / sqrt(dxx * dyy)) * (num / sqrt(dxx * dyy)), 6) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin),
    Query("sim8_ann_recall", (s, d) => Similarity.annRecallAudit(s, d),
      OracleGen.sim8Sql()),
    Query("sim9_ivf_knn_join", (s, d) => Similarity.ivfKnnJoin(s, d),
      OracleGen.sim9Sql()),
    Query("tx17_bpe_merges", (s, d) => TextAnalysis.bpeMerges(s, d),
      OracleGen.tx17Sql()),
    // sim10's oracle IS sim3's: the split (base ∪ delta) index must be
    // answer-identical to the monolithic one — hash-proved equivalence.
    Query("sim10_ann_incremental", (s, d) => Similarity.lshAnnIncremental(s, d),
      OracleGen.sim3Sql()),
    Query("dp12_bucketed_pack", (s, d) => DataPrep.lengthBucketedPack(s, d),
      """WITH docs AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
        |    length(bin(CAST(n_chars AS BIGINT))) - 1 AS bucket
        |  FROM documents),
        |b AS (SELECT bucket,
        |    (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 32
        |      AS batch_id, len FROM docs),
        |bb AS (SELECT bucket, batch_id, max(len) AS mx, count(*) AS n,
        |    sum(len) AS sl FROM b GROUP BY 1, 2),
        |bs AS (SELECT 'bucketed' AS policy,
        |    CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(sl) AS BIGINT) AS total_chars,
        |    CAST(sum(mx * n) AS BIGINT) AS padded_chars FROM bb),
        |ib AS (SELECT doc_id // 32 AS batch_id, max(len) AS mx,
        |    count(*) AS n, sum(len) AS sl FROM docs GROUP BY 1),
        |iss AS (SELECT 'id_block' AS policy,
        |    CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(sl) AS BIGINT) AS total_chars,
        |    CAST(sum(mx * n) AS BIGINT) AS padded_chars FROM ib)
        |SELECT policy, n_batches, total_chars, padded_chars,
        |  round(CAST(padded_chars - total_chars AS DOUBLE) / padded_chars, 6)
        |    AS waste_ratio
        |FROM (SELECT * FROM bs UNION ALL SELECT * FROM iss)
        |ORDER BY policy""".stripMargin),
    Query("tx18_cdc_shared", (s, d) => TextAnalysis.cdcSharedChunks(s, d),
      OracleGen.tx18Sql()),
    Query("st7_scd_build", (s, d) => Windows.scdBuild(s, d),
      """WITH ordered AS (
        |  SELECT user_id, ts, event_type, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |changes AS (
        |  SELECT user_id, ts, event_type, event_id FROM ordered
        |  WHERE prev_type IS NULL OR event_type <> prev_type)
        |SELECT user_id, event_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  coalesce(strftime(lead(ts) OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id),
        |           '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to,
        |  CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |       IS NULL AS INTEGER) AS is_current
        |FROM changes
        |ORDER BY user_id, valid_from, event_type, valid_to""".stripMargin),
    Query("a27_contingency", (s, d) => Analytics.contingency(s, d),
      """WITH c AS (
        |  SELECT event_type, CAST(isodow(ts) - 1 AS INTEGER) AS dow,
        |    CAST(count(*) AS BIGINT) AS observed
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM c),
        |rt AS (SELECT event_type, CAST(sum(observed) AS BIGINT) AS row_tot
        |       FROM c GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(observed) AS BIGINT) AS col_tot
        |       FROM c GROUP BY 1)
        |SELECT c.event_type, c.dow, observed,
        |  round(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |        / CAST(n AS DOUBLE), 4) AS expected,
        |  round((CAST(observed AS DOUBLE)
        |         - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |           / CAST(n AS DOUBLE))
        |        * (CAST(observed AS DOUBLE)
        |           - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |             / CAST(n AS DOUBLE))
        |        / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |           / CAST(n AS DOUBLE)), 6) AS chi2_cell
        |FROM c JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN tot
        |ORDER BY event_type, dow""".stripMargin),
    Query("dp10_shuffle", (s, d) => DataPrep.deterministicShuffle(s, d),
      """SELECT doc_id,
        |  md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos
        |FROM documents
        |QUALIFY pos <= 100
        |ORDER BY pos""".stripMargin),
    // f_cast_suite oracle bridges the one documented divergence: Spark
    // CAST truncates double->int while DuckDB rounds -> trunc() in the
    // oracle; try_cast/TRY_CAST agree (NULL on malformed).
    Query("f_cast_suite", (s, d) => FunctionSuites.castSuite(s, d),
      """SELECT p_partkey,
        |  CAST(trunc(p_retailprice) AS INTEGER) AS price_trunc,
        |  CAST(trunc(-p_retailprice) AS INTEGER) AS neg_trunc,
        |  TRY_CAST(regexp_extract(p_name, '[0-9]+') AS INTEGER) AS name_num,
        |  TRY_CAST('' || CAST(p_size AS VARCHAR) AS INTEGER) AS roundtrip_int,
        |  CAST(p_size > 25 AS INTEGER) AS big_flag,
        |  CAST(CAST(p_size AS DOUBLE) AS VARCHAR) AS size_str
        |FROM part WHERE p_partkey < 2000 ORDER BY p_partkey""".stripMargin),
    // round-4 pack: weighted sampling, equi-depth profiling, EWMA,
    // vocabulary growth, trigram LM
    Query("sp4_weighted_sample", (s, d) => Sampling.weightedSample(s, d),
      """SELECT source, doc_id, n_chars, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                    AS BIGINT)
        |               / CAST(greatest(n_chars, 1) AS DOUBLE) ASC,
        |               doc_id ASC) AS rk
        |  FROM documents) t
        |WHERE rk <= 8 ORDER BY source, rk""".stripMargin),
    Query("a28_equidepth_hist", (s, d) => Analytics.equiDepthHistogram(s, d),
      OracleGen.a28Sql()),
    Query("w14_ewma", (s, d) => Windows.ewmaDailySales(s, d),
      OracleGen.w14Sql()),
    Query("tx14_vocab_growth", (s, d) => TextAnalysis.vocabGrowth(s, d),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |pb AS (SELECT CAST(doc_id // 50 AS BIGINT) AS bucket,
        |         count(*) AS n_tokens
        |       FROM tok GROUP BY 1),
        |nt AS (SELECT CAST(first_doc // 50 AS BIGINT) AS bucket,
        |         count(*) AS new_types
        |       FROM (SELECT token, min(doc_id) AS first_doc
        |             FROM tok GROUP BY 1) t
        |       GROUP BY 1)
        |SELECT bucket, n_tokens,
        |  CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
        |  CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |  CAST(sum(coalesce(new_types, 0)) OVER w AS BIGINT) AS cum_types
        |FROM pb LEFT JOIN nt USING (bucket)
        |WINDOW w AS (ORDER BY bucket
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY bucket""".stripMargin),
    Query("tx15_trigram_lm", (s, d) => TextAnalysis.trigramLm(s, d),
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |tri AS (
        |  SELECT ws[i] AS t1, ws[i+1] AS t2, ws[i+2] AS t3
        |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i
        |        FROM w WHERE len(ws) >= 3) t),
        |tc AS (SELECT t1, t2, t3, count(*) AS n_tri FROM tri GROUP BY 1, 2, 3),
        |cc AS (SELECT t1, t2, CAST(sum(n_tri) AS BIGINT) AS n_ctx
        |       FROM tc GROUP BY 1, 2)
        |SELECT tc.t1, tc.t2, tc.t3, n_tri, n_ctx,
        |  round(CAST(n_tri AS DOUBLE) / CAST(n_ctx AS DOUBLE), 6) AS prob
        |FROM tc JOIN cc ON tc.t1 = cc.t1 AND tc.t2 = cc.t2
        |ORDER BY n_tri DESC, tc.t1 ASC, tc.t2 ASC, tc.t3 ASC
        |LIMIT 50""".stripMargin),
    Query("tx16_trigram_novelty", (s, d) => TextAnalysis.trigramNovelty(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 2)) AS i
        |        FROM w WHERE len(ws) >= 3) t),
        |c AS (SELECT gram, count(*) AS n_corpus FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_trigrams,
        |  CAST(sum(CASE WHEN n_corpus >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_common,
        |  round(CAST(sum(CASE WHEN n_corpus >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS common_ratio
        |FROM g JOIN c USING (gram)
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin),
    // round-5 pack: LSH-sourced dedup compositions (the 100 TB pair
    // source wired through the keep-set / corpus-select tails)
    Query("dd14_keepset_lsh",
      (s, d) => Dedup.dedupKeepSetFrom(s, d, Dedup.minhashLshPairsRaw(s, d)),
      OracleGen.dd14Sql()),
    Query("dp11_corpus_select_lsh",
      (s, d) => Pipeline.corpusSelectFrom(s, d, Dedup.minhashLshPairsRaw(s, d)),
      OracleGen.dp11Sql()),
    // round-6 pack: distributed graph analytics (integer-exact PageRank,
    // degree-oriented triangles, market-basket support) + HLL intersection
    // gr1: the oracle replays the identical unrolled fixed-point chain
    // (integer `//` = Spark `div` for the all-positive ranks; per-round
    // CAST because DuckDB sum() promotes BIGINT to HUGEINT)
    Query("gr1_pagerank", (s, d) => Graph.pageRank(s, d),
      operators.Graph.pageRankOracleSql()),
    Query("gr2_triangles", (s, d) => Graph.triangleCount(s, d),
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        |und AS MATERIALIZED (
        |  SELECT pa, pb FROM (
        |    SELECT a.pk AS pa, b.pk AS pb, count(*) AS n
        |    FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |    GROUP BY 1, 2)
        |  WHERE n >= 2),
        |deg AS MATERIALIZED (SELECT n, count(*) AS dg FROM
        |    (SELECT pa AS n FROM und UNION ALL SELECT pb FROM und)
        |  GROUP BY 1),
        |oriented AS MATERIALIZED (
        |  SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND pa < pb)
        |              THEN pa ELSE pb END AS lo,
        |         CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND pa < pb)
        |              THEN pb ELSE pa END AS hi
        |  FROM und JOIN deg d1 ON d1.n = und.pa JOIN deg d2 ON d2.n = und.pb),
        |closed AS (
        |  SELECT x.hi AS w1, y.hi AS w2
        |  FROM oriented x JOIN oriented y ON x.lo = y.lo AND x.hi < y.hi
        |  WHERE EXISTS (SELECT 1 FROM und WHERE pa = x.hi AND pb = y.hi))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM closed) AS n_triangles""".stripMargin),
    Query("gr3_copurchase", (s, d) => Graph.copurchaseSupport(s, d),
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem),
        |pairs AS (SELECT a.pk AS pa, b.pk AS pb
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |pair_n AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS pair_n
        |  FROM pairs GROUP BY 1, 2),
        |item_n AS (SELECT pk, CAST(count(*) AS BIGINT) AS item_n
        |  FROM op GROUP BY 1)
        |SELECT pa, pb, pair_n, ia.item_n AS a_n, ib.item_n AS b_n
        |FROM pair_n JOIN item_n ia ON ia.pk = pa JOIN item_n ib ON ib.pk = pb
        |ORDER BY pair_n DESC, pa ASC, pb ASC LIMIT 100""".stripMargin),
    // a30: exacts hash-match; the sketch inclusion-exclusion path
    // contributes the in-bounds boolean (a8/a29/cms1 audit shape)
    Query("a30_hll_intersect", (s, d) => Sketches.hllIntersect(s, d),
      """SELECT 1996 AS year_a, 1997 AS year_b,
        |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |     WHERE year(o_orderdate) = 1996) AS exact_a,
        |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |     WHERE year(o_orderdate) = 1997) AS exact_b,
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |     INTERSECT
        |     SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997))
        |    AS exact_both,
        |  TRUE AS est_ok""".stripMargin),
    Query("gr4_hop_distance", (s, d) => Graph.hopDistance(s, d),
      operators.Graph.hopDistanceOracleSql()),
    // dd19: the prefix filter is LOSSLESS, so the oracle is dd2's
    // independent all-pairs formulation verbatim — a different
    // algorithm arriving at a bit-identical relation is the strongest
    // oracle this family has
    Query("dd19_prefix_filter", (s, d) => Dedup.prefixFilterJaccardPairs(s, d),
      ngramJaccardOracleSql),
    // tx19: identical literals + association order on both engines;
    // comparison happens on the round-6 score (tx12's float discipline)
    Query("tx19_bm25", (s, d) => TextAnalysis.bm25TopDocs(s, d),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE token IN ('window', 'merge', 'scan') GROUP BY 1, 2),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (st.n_docs - dfq.df + 0.5) / (CAST(dfq.df AS DOUBLE) + 0.5))
        |      * (CAST(tf.tf AS DOUBLE) * 2.2)
        |      / (CAST(tf.tf AS DOUBLE)
        |         + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))
        |      AS contrib
        |  FROM tf JOIN dfq ON tf.token = dfq.token
        |  JOIN dl ON tf.doc_id = dl.doc_id, st)
        |SELECT doc_id, round(sum(contrib), 6) AS bm25
        |FROM c GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin),
    Query("sr1_hybrid_rrf", (s, d) => Retrieval.hybridRrf(s, d),
      OracleGen.sr1Sql()),
    Query("sr2_query_likelihood",
      (s, d) => Retrieval.queryLikelihoodTopDocs(s, d),
      operators.Retrieval.queryLikelihoodOracleSql()),
    Query("sr3_retrieval_eval", (s, d) => Retrieval.retrievalEval(s, d),
      OracleGen.sr3Sql()),
    Query("tx29_collocations", (s, d) => TextAnalysis.collocations(s, d),
      operators.TextAnalysis.collocationsOracleSql()),
    Query("tx30_heaps_curve", (s, d) => TextAnalysis.heapsCurve(s, d),
      operators.TextAnalysis.heapsCurveOracleSql()),
    Query("tx31_quality_clf", (s, d) => TextAnalysis.qualityClassifier(s, d),
      operators.TextAnalysis.qualityClassifierOracleSql()),
    Query("tx32_fertility", (s, d) => TextAnalysis.tokenizerFertility(s, d),
      operators.TextAnalysis.tokenizerFertilityOracleSql()),
    Query("tx33_source_kl", (s, d) => TextAnalysis.sourceKlMatrix(s, d),
      operators.TextAnalysis.sourceKlMatrixOracleSql()),
    Query("dp25_dsir", (s, d) => DataPrep.dsirSelect(s, d),
      operators.DataPrep.dsirSelectOracleSql()),
    Query("sim19_dim_sweep", (s, d) => Similarity.dimSweepRecall(s, d),
      OracleGen.sim19Sql()),
    Query("a53_fleiss", (s, d) => Analytics.fleissKappa(s, d),
      operators.Analytics.fleissKappaOracleSql()),
    Query("a54_hodges_lehmann", (s, d) => Analytics.hodgesLehmann(s, d),
      operators.Analytics.hodgesLehmannOracleSql()),
    Query("dd23_shingle_sense", (s, d) => Dedup.shingleSensitivity(s, d),
      operators.Dedup.shingleSensitivityOracleSql()),
    // dd24: dd8's component chain rolled up twice — sizes, then the
    // size histogram
    Query("dd24_cluster_sizes", (s, d) => Dedup.clusterSizeDistribution(s, d),
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |           i -> array_to_string(ws[i:i+2], ' '))) AS g
        |  FROM w),
        |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM shared
        |  JOIN cnt ca ON ca.doc_id = doc_a
        |  JOIN cnt cb ON cb.doc_id = doc_b
        |  WHERE CAST(s AS DOUBLE) / (ca.n + cb.n - s) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
        |reach(doc, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.doc),
        |comp AS (SELECT doc AS doc_id, min(r) AS comp FROM reach GROUP BY doc),
        |cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM comp GROUP BY comp)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
    // dd25 computes only delta-involving pairs + a star-edge relabel,
    // but its CONTRACT is exact equality with the from-scratch
    // assignment — so the oracle IS dd8's full replay
    Query("dd25_incremental_comps", (s, d) => Dedup.incrementalComponents(s, d),
      componentsOracleSql),
    Query("gr5_personalized_pr", (s, d) => Graph.personalizedPageRank(s, d),
      operators.Graph.personalizedPageRankOracleSql()),
    Query("sq3_session_paths", (s, d) => DataPrep.sessionPaths(s, d),
      operators.DataPrep.sessionPathsOracleSql()),
    Query("gr6_cheapest_route", (s, d) => Graph.cheapestRoute(s, d),
      operators.Graph.cheapestRouteOracleSql()),
    Query("sim11_mmr", (s, d) => Similarity.mmrDiversify(s, d),
      operators.Similarity.mmrOracleSql()),
    Query("tx20_bpe_encode", (s, d) => TextAnalysis.bpeEncodeTopTokens(s, d),
      OracleGen.tx20Sql()),
    Query("dp13_temperature_mix", (s, d) => DataPrep.temperatureMix(s, d),
      operators.DataPrep.temperatureMixOracleSql()),
    Query("gr7_label_prop", (s, d) => Graph.labelPropagation(s, d),
      operators.Graph.labelPropagationOracleSql()),
    Query("a31_decile_lift", (s, d) => Analytics.decileLift(s, d),
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |nt AS (
        |  SELECT cents,
        |    ntile(10) OVER (ORDER BY cents DESC, o_custkey ASC) AS decile
        |  FROM spend),
        |agg AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM nt GROUP BY 1)
        |SELECT CAST(decile AS INTEGER) AS decile, n_cust, cents,
        |  round(CAST(cents AS DOUBLE)
        |        / CAST(sum(cents) OVER () AS DOUBLE), 6) AS share,
        |  round(CAST(sum(cents) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |        / CAST(sum(cents) OVER () AS DOUBLE), 6) AS cum_share
        |FROM agg ORDER BY decile""".stripMargin),
    Query("tx21_textrank", (s, d) => TextAnalysis.textRank(s, d),
      operators.TextAnalysis.textRankOracleSql()),
    Query("dp14_curriculum", (s, d) => DataPrep.curriculumOrder(s, d),
      operators.DataPrep.curriculumOrderOracleSql()),
    Query("w16_rolling_z", (s, d) => Windows.rollingAnomaly(s, d),
      """WITH daily AS (
        |  SELECT event_type,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, n,
        |    count(*) OVER win AS c,
        |    CAST(sum(n) OVER win AS BIGINT) AS s1,
        |    CAST(sum(n * n) OVER win AS BIGINT) AS s2
        |  FROM daily
        |  WINDOW win AS (PARTITION BY event_type ORDER BY day
        |                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |z AS (
        |  SELECT event_type, day, n,
        |    CASE WHEN (CAST(s2 AS DOUBLE) / 7.0
        |               - (CAST(s1 AS DOUBLE) / 7.0) * (CAST(s1 AS DOUBLE) / 7.0)) > 0
        |         THEN round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / 7.0)
        |              / sqrt(CAST(s2 AS DOUBLE) / 7.0
        |                     - (CAST(s1 AS DOUBLE) / 7.0)
        |                       * (CAST(s1 AS DOUBLE) / 7.0)), 4)
        |         ELSE 0.0 END AS z
        |  FROM w WHERE c = 7)
        |SELECT event_type, day, n, z,
        |  CAST(abs(z) > 1.5 AS INTEGER) AS is_anomaly
        |FROM z ORDER BY event_type, day""".stripMargin),
    Query("gr8_kcore", (s, d) => Graph.kCore(s, d),
      operators.Graph.kCoreOracleSql()),
    Query("mm6_scene_cuts", (s, d) => Multimodal.sceneCuts(s, d),
      """WITH f AS (
        |  SELECT doc_id, CAST((frame_start - 1) // 256 AS INTEGER) AS frame_no,
        |    CAST(('0x' || substr(md5(substring(text, frame_start, 64)), 1, 15))
        |         AS BIGINT) % 256 AS luma
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 63, 256)) AS frame_start
        |        FROM documents WHERE length(text) >= 64)),
        |l AS (
        |  SELECT doc_id, frame_no, luma,
        |    lag(luma) OVER (PARTITION BY doc_id ORDER BY frame_no) AS prev_luma
        |  FROM f),
        |c AS (
        |  SELECT doc_id, frame_no,
        |    CASE WHEN prev_luma IS NOT NULL AND abs(luma - prev_luma) > 96
        |         THEN 1 ELSE 0 END AS is_cut
        |  FROM l)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(is_cut) AS BIGINT) AS n_cuts,
        |  CAST(sum(CASE WHEN is_cut = 1 THEN frame_no ELSE 0 END) AS BIGINT)
        |    AS cut_possum
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("a32_ks_test", (s, d) => Analytics.ksTest(s, d),
      """WITH seg AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS in_a
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |pv AS (
        |  SELECT cents, CAST(sum(in_a) AS BIGINT) AS cnt_a,
        |    CAST(sum(1 - in_a) AS BIGINT) AS cnt_b
        |  FROM seg GROUP BY 1),
        |c AS (
        |  SELECT cents,
        |    CAST(sum(cnt_a) OVER w AS BIGINT) AS ca,
        |    CAST(sum(cnt_b) OVER w AS BIGINT) AS cb,
        |    CAST(sum(cnt_a) OVER () AS BIGINT) AS na,
        |    CAST(sum(cnt_b) OVER () AS BIGINT) AS nb
        |  FROM pv
        |  WINDOW w AS (ORDER BY cents
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT na, nb,
        |    round(max(abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |                  - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
        |      AS d_stat
        |  FROM c GROUP BY na, nb)
        |SELECT na AS n_a, nb AS n_b, d_stat,
        |  round(1.358 * sqrt(CAST(na + nb AS DOUBLE)
        |        / CAST(na * nb AS DOUBLE)), 6) AS crit_05,
        |  CAST(d_stat > round(1.358 * sqrt(CAST(na + nb AS DOUBLE)
        |       / CAST(na * nb AS DOUBLE)), 6) AS INTEGER) AS reject
        |FROM g""".stripMargin),
    Query("a34_gini", (s, d) => Analytics.giniSpend(s, d),
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |rk AS (
        |  SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents ASC, o_custkey ASC)
        |    AS BIGINT) AS i
        |  FROM spend)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round(2.0 * CAST(sum(CAST(i AS HUGEINT) * cents) AS DOUBLE)
        |        / CAST(count(*) * sum(cents) AS DOUBLE)
        |        - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS gini
        |FROM rk""".stripMargin),
    Query("gr9_link_pred", (s, d) => Graph.linkPrediction(s, d),
      operators.Graph.linkPredictionOracleSql()),
    Query("tx22_zipf_fit", (s, d) => TextAnalysis.zipfFit(s, d),
      operators.TextAnalysis.zipfFitOracleSql()),
    Query("sq4_funnel_latency", (s, d) => DataPrep.funnelLatency(s, d),
      """WITH v AS (
        |  SELECT user_id, min(ts) AS tv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, v.tv, min(e.ts) AS tp
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.tv
        |  GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(floor(epoch(tp)) AS BIGINT) - CAST(floor(epoch(tv)) AS BIGINT)
        |    AS delta_s
        |FROM p ORDER BY user_id""".stripMargin),
    Query("a35_benford", (s, d) => Analytics.benfordAudit(s, d),
      """WITH dg AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |         AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY 1),
        |t AS (
        |  SELECT digit, n,
        |    CAST(sum(n) OVER () AS BIGINT) AS ntot,
        |    log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS exp_share
        |  FROM c)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE), 6) AS share,
        |  round(exp_share, 6) AS exp_share,
        |  round(sum((CAST(n AS DOUBLE) - CAST(ntot AS DOUBLE) * exp_share)
        |            * (CAST(n AS DOUBLE) - CAST(ntot AS DOUBLE) * exp_share)
        |            / (CAST(ntot AS DOUBLE) * exp_share)) OVER (), 6) AS chi2
        |FROM t ORDER BY digit""".stripMargin),
    Query("bk2_bucketed_agg", (s, d) => graft.sources.Marts.bucketedAgg(s, d),
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM lineitem GROUP BY 1 HAVING count(*) >= 6
        |ORDER BY l_orderkey""".stripMargin),
    Query("dp15_leakage_split", (s, d) => DataPrep.leakageSafeSplit(s, d),
      operators.DataPrep.leakageSafeSplitOracleSql()),
    Query("w17_drawdown", (s, d) => Windows.revenueDrawdown(s, d),
      """WITH daily AS (
        |  SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1)
        |SELECT day, cents,
        |  CAST(max(cents) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS peak,
        |  CAST(max(cents) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cents
        |    AS BIGINT) AS drawdown
        |FROM daily ORDER BY day""".stripMargin),
    Query("a36_mannwhitney", (s, d) => Analytics.mannWhitney(s, d),
      """WITH seg AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS in_a
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |pv AS (
        |  SELECT cents, CAST(sum(in_a) AS BIGINT) AS cnt_a,
        |    CAST(sum(1 - in_a) AS BIGINT) AS cnt_b
        |  FROM seg GROUP BY 1),
        |c AS (
        |  SELECT cnt_a, cnt_b, cnt_a + cnt_b AS cnt,
        |    CAST(sum(cnt_a + cnt_b) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cumn
        |  FROM pv),
        |t AS (
        |  SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
        |    CAST(sum(cnt_b) AS BIGINT) AS n_b,
        |    CAST(sum(cnt_a * (cumn * 2 - cnt + 1)) AS BIGINT) AS r2_a,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS t_ties
        |  FROM c),
        |m AS (
        |  SELECT n_a, n_b, r2_a, t_ties,
        |    r2_a - n_a * (n_a + 1) AS u2_a, n_a + n_b AS nn
        |  FROM t),
        |z AS (
        |  SELECT n_a, n_b, r2_a, u2_a, t_ties,
        |    round(CAST(u2_a - n_a * n_b AS DOUBLE)
        |      / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |          * (CAST(nn + 1 AS DOUBLE)
        |             - CAST(t_ties AS DOUBLE)
        |               / CAST(nn * (nn - 1) AS DOUBLE)))), 6) AS z
        |  FROM m)
        |SELECT n_a, n_b, r2_a, u2_a, t_ties, z,
        |  CAST(abs(z) > 1.96 AS INTEGER) AS reject
        |FROM z""".stripMargin),
    Query("a37_spearman", (s, d) => Analytics.spearmanBalSpend(s, d),
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS yv
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS xv, yv
        |  FROM customer JOIN spend ON c_custkey = o_custkey),
        |rx AS (
        |  SELECT xv, CAST(cumn * 2 - cnt + 1 AS BIGINT) AS xv_r2 FROM (
        |    SELECT xv, cnt,
        |      sum(cnt) OVER (ORDER BY xv
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
        |    FROM (SELECT xv, CAST(count(*) AS BIGINT) AS cnt
        |          FROM r GROUP BY 1))),
        |ry AS (
        |  SELECT yv, CAST(cumn * 2 - cnt + 1 AS BIGINT) AS yv_r2 FROM (
        |    SELECT yv, cnt,
        |      sum(cnt) OVER (ORDER BY yv
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
        |    FROM (SELECT yv, CAST(count(*) AS BIGINT) AS cnt
        |          FROM r GROUP BY 1))),
        |j AS (
        |  SELECT rx.xv_r2, ry.yv_r2
        |  FROM r JOIN rx ON r.xv = rx.xv JOIN ry ON r.yv = ry.yv),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xv_r2) AS BIGINT) AS sx,
        |    CAST(sum(yv_r2) AS BIGINT) AS sy,
        |    CAST(sum(xv_r2 * xv_r2) AS BIGINT) AS sxx,
        |    CAST(sum(xv_r2 * yv_r2) AS BIGINT) AS sxy,
        |    CAST(sum(yv_r2 * yv_r2) AS BIGINT) AS syy
        |  FROM j)
        |SELECT n, sx, sy,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
        |FROM t""".stripMargin),
    Query("w18_interval_union", (s, d) => Windows.intervalUnion(s, d),
      """WITH iv0 AS (
        |  SELECT l_suppkey AS sk,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS iv_s,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem),
        |iv AS (
        |  SELECT sk, iv_s, iv_s + 3 + q % 14 AS iv_e FROM iv0),
        |fl AS (
        |  SELECT sk, iv_s, iv_e,
        |    CASE WHEN max(iv_e) OVER (PARTITION BY sk ORDER BY iv_s, iv_e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR iv_s > max(iv_e) OVER (PARTITION BY sk ORDER BY iv_s, iv_e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM iv),
        |isl AS (
        |  SELECT sk, iv_s, iv_e,
        |    CAST(sum(is_new) OVER (PARTITION BY sk ORDER BY iv_s, iv_e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM fl),
        |g AS (
        |  SELECT sk, island, CAST(count(*) AS BIGINT) AS n_iv,
        |    min(iv_s) AS min_s, max(iv_e) AS max_e
        |  FROM isl GROUP BY 1, 2)
        |SELECT sk, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(max_e - min_s + 1) AS BIGINT) AS covered_days
        |FROM g GROUP BY 1 ORDER BY sk""".stripMargin),
    Query("gr10_assortativity", (s, d) => Graph.assortativity(s, d),
      operators.Graph.assortativityOracleSql()),
    Query("st8_attribution", (s, d) => Analytics.attribution(s, d),
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id, p.value
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY purchase_id, click_id""".stripMargin),
    Query("sim12_pq_adc", (s, d) => Similarity.pqAdcTopK(s, d),
      OracleGen.sim12Sql()),
    Query("sim13_ivf_pq", (s, d) => Similarity.ivfPqTopK(s, d),
      OracleGen.sim13Sql()),
    Query("sim14_hybrid_rrf", (s, d) => Similarity.hybridRrf(s, d),
      operators.Similarity.hybridRrfOracleSql()),
    Query("sim17_pq_recall", (s, d) => Similarity.pqRecallAudit(s, d),
      OracleGen.sim17Sql()),
    Query("sim18_probe_sweep", (s, d) => Similarity.ivfProbeSweep(s, d),
      OracleGen.sim18Sql()),
    Query("sim15_lsh_filtered", (s, d) => Similarity.lshAnnFiltered(s, d),
      OracleGen.sim15Sql()),
    Query("a38_changepoint", (s, d) => Analytics.changepoint(s, d),
      """WITH daily AS (
        |  SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT day,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
        |    CAST(sum(cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cs,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(cents) OVER () AS BIGINT) AS total
        |  FROM daily),
        |g AS (
        |  SELECT day, t, n, cs, total,
        |    abs(n * cs - t * total) AS g_stat
        |  FROM c WHERE t < n)
        |SELECT day AS split_day, t, n, g_stat,
        |  round(CAST(cs AS DOUBLE) / CAST(t AS DOUBLE), 6) AS mean_left,
        |  round(CAST(total - cs AS DOUBLE) / CAST(n - t AS DOUBLE), 6)
        |    AS mean_right
        |FROM g ORDER BY g_stat DESC, split_day ASC LIMIT 1""".stripMargin),
    Query("sp5_bootstrap", (s, d) => Sampling.poissonBootstrap(s, d),
      {
      val u = "CAST(('0x' || substr(md5(CAST(o_orderkey * 8 + rep " +
        "AS VARCHAR)), 1, 8)) AS BIGINT)"
      s"""WITH r AS (
         |  SELECT o_orderkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    unnest(generate_series(0, 7)) AS rep
         |  FROM orders),
         |w AS (
         |  SELECT rep, cents,
         |    CAST(${operators.Sampling.poissonWeightSql(u)} AS BIGINT) AS w
         |  FROM r)
         |SELECT CAST(rep AS BIGINT) AS rep,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(w) AS BIGINT) AS n_eff,
         |  CAST(sum(w * cents) AS BIGINT) AS boot_cents
         |FROM w GROUP BY 1 ORDER BY rep""".stripMargin
    }),
    Query("tx23_source_divergence",
      (s, d) => TextAnalysis.sourceDivergence(s, d),
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |pt AS (
        |  SELECT token,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS oa,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ob
        |  FROM tok GROUP BY 1),
        |w AS (
        |  SELECT token, oa, ob,
        |    CAST(sum(oa) OVER () AS BIGINT) AS na,
        |    CAST(sum(ob) OVER () AS BIGINT) AS nb
        |  FROM pt),
        |f AS (
        |  SELECT token, oa, ob, na, nb, na + nb AS nn,
        |    oa * nb - ob * na AS dcross
        |  FROM w WHERE oa + ob >= 5)
        |SELECT token, oa, ob, dcross,
        |  round(CAST(nn AS DOUBLE) * CAST(dcross AS DOUBLE)
        |      * CAST(dcross AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |      * CAST(oa + ob AS DOUBLE) * CAST(nn - oa - ob AS DOUBLE)), 6)
        |    AS chi2
        |FROM f
        |ORDER BY CAST(nn AS DOUBLE) * CAST(dcross AS DOUBLE)
        |      * CAST(dcross AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |      * CAST(oa + ob AS DOUBLE) * CAST(nn - oa - ob AS DOUBLE)) DESC,
        |  token ASC
        |LIMIT 20""".stripMargin),
    Query("a39_rfm", (s, d) => Analytics.rfmSegments(s, d),
      """WITH per AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_o,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary
        |  FROM orders GROUP BY 1),
        |rd AS (
        |  SELECT o_custkey, freq, monetary,
        |    CAST(date_diff('day', CAST(last_o AS DATE),
        |      CAST(max(last_o) OVER () AS DATE)) AS BIGINT) AS recency_days
        |  FROM per),
        |sc AS (
        |  SELECT freq, monetary,
        |    ntile(5) OVER (ORDER BY recency_days DESC, o_custkey ASC)
        |      AS r_score,
        |    ntile(5) OVER (ORDER BY freq ASC, o_custkey ASC) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m_score
        |  FROM rd)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(monetary) AS BIGINT) AS segment_cents
        |FROM sc GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),
    Query("gr11_assoc_rules", (s, d) => Graph.associationRules(s, d),
      operators.Graph.associationRulesOracleSql()),
    Query("gr12_hits", (s, d) => Graph.hits(s, d),
      operators.Graph.hitsOracleSql()),
    Query("a41_theil_sen", (s, d) => Analytics.theilSen(s, d),
      """WITH monthly AS (
        |  SELECT CAST((year(o_orderdate) - 1992) * 12
        |      + month(o_orderdate) - 1 AS BIGINT) AS x,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS c
        |  FROM orders GROUP BY 1),
        |slopes AS (
        |  SELECT a.x AS xa, b.x AS xb,
        |    CAST(b.c - a.c AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM monthly a JOIN monthly b ON a.x < b.x),
        |rk AS (
        |  SELECT slope,
        |    CAST(row_number() OVER (ORDER BY slope ASC, xa ASC, xb ASC)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS np
        |  FROM slopes),
        |med AS (
        |  SELECT slope, np AS n_pairs FROM rk WHERE rn = (np + 1) // 2),
        |res AS (
        |  SELECT m.x, d.slope, d.n_pairs,
        |    CAST(m.c AS DOUBLE) - d.slope * CAST(m.x AS DOUBLE) AS resid
        |  FROM monthly m CROSS JOIN med d),
        |rr AS (
        |  SELECT n_pairs, slope, resid,
        |    CAST(row_number() OVER (ORDER BY resid ASC, x ASC) AS BIGINT)
        |      AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS nm
        |  FROM res)
        |SELECT nm AS n_months, n_pairs,
        |  round(slope, 6) AS slope_cents_per_month,
        |  CAST(floor(resid + 0.5) AS BIGINT) AS intercept_cents
        |FROM rr WHERE rn = (nm + 1) // 2""".stripMargin),
    Query("a50_mann_kendall", (s, d) => Analytics.mannKendall(s, d),
      operators.Analytics.mannKendallOracleSql()),
    Query("a51_runs_test", (s, d) => Analytics.runsTest(s, d),
      operators.Analytics.runsTestOracleSql()),
    Query("a52_kappa", (s, d) => Analytics.cohenKappa(s, d),
      operators.Analytics.cohenKappaOracleSql()),
    Query("a42_acf", (s, d) => Analytics.autocorrelation(s, d),
      operators.Analytics.autocorrelationOracleSql()),
    Query("a43_trimmed_stats", (s, d) => Analytics.trimmedStats(s, d),
      operators.Analytics.trimmedStatsOracleSql()),
    Query("a44_dow_seasonality", (s, d) => Analytics.dowSeasonality(s, d),
      operators.Analytics.dowSeasonalityOracleSql()),
    Query("a45_ohlc", (s, d) => Analytics.ohlcBars(s, d),
      operators.Analytics.ohlcBarsOracleSql()),
    Query("dq1_profile", (s, d) => DataQuality.profile(s, d),
      operators.DataQuality.profileOracleSql()),
    Query("dq2_constraints", (s, d) => DataQuality.constraints(s, d),
      operators.DataQuality.constraintsOracleSql()),
    Query("dq3_bucket_diff", (s, d) => DataQuality.bucketDiff(s, d),
      operators.DataQuality.bucketDiffOracleSql()),
    Query("pv1_k_anonymity", (s, d) => DataQuality.kAnonymity(s, d),
      operators.DataQuality.kAnonymityOracleSql()),
    Query("dd20_contamination", (s, d) => Dedup.contaminationTiers(s, d),
      OracleGen.dd20Sql()),
    // dd20's exact leg through the forced bloom + shuffle path; shares
    // dd20's oracle — bound 0 forces the selection the audit would
    // make when the eval gram set outgrows the broadcast-safe bound
    // the shuffled-path twin replays the identical relation: one
    // oracle text, two physical plans — the gate proves them equal
    Query("dd20_contam_shuffled",
      (s, d) => Dedup.contaminationTiers(s, d, evalBroadcastBound = 0L),
      OracleGen.dd20Sql()),
    Query("gr13_closeness", (s, d) => Graph.closeness(s, d),
      operators.Graph.closenessOracleSql()),
    Query("st9_dq_monitor", (s, d) => Analytics.dqMonitor(s, d),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN value < 0 OR value > 400 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_value_range,
        |  CAST(sum(CASE WHEN CAST(props->>'$.k' AS INTEGER) >= 90
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_props
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin),
    Query("j10_point_in_time", (s, d) => Relational.pointInTimeJoin(s, d),
      """WITH nonp AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE event_type <> 'purchase'),
        |chg AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM nonp),
        |chg2 AS (
        |  SELECT user_id, event_id, ts, event_type FROM chg
        |  WHERE prev_type IS NULL OR event_type <> prev_type),
        |dims AS (
        |  SELECT user_id, event_type AS state, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS vt
        |  FROM chg2),
        |facts AS (
        |  SELECT user_id, event_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id,
        |  strftime(f.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
        |  d.state AS state_at_purchase
        |FROM facts f LEFT JOIN dims d
        |  ON d.user_id = f.user_id AND f.ts >= d.vf
        | AND (d.vt IS NULL OR f.ts < d.vt)
        |ORDER BY f.event_id""".stripMargin),
    Query("dp18_filter_funnel", (s, d) => Pipeline.filterFunnel(s, d),
      OracleGen.dp18Sql()),
    Query("a46_ab_test", (s, d) => Analytics.abTest(s, d),
      operators.Analytics.abTestOracleSql()),
    Query("dp19_token_budget", (s, d) => DataPrep.tokenBudget(s, d),
      operators.DataPrep.tokenBudgetOracleSql()),
    Query("pv2_l_diversity", (s, d) => DataQuality.lDiversity(s, d),
      operators.DataQuality.lDiversityOracleSql()),
    Query("a47_hhi", (s, d) => Analytics.hhi(s, d),
      operators.Analytics.hhiOracleSql()),
    Query("sq5_markov_backtest", (s, d) => DataPrep.markovBacktest(s, d),
      operators.DataPrep.markovBacktestOracleSql()),
    Query("w20_rolling_corr", (s, d) => Windows.rollingCorrelation(s, d),
      operators.Windows.rollingCorrelationOracleSql()),
    Query("tx24_langid_confusion", (s, d) => TextAnalysis.langIdConfusion(s, d),
      operators.TextAnalysis.langIdConfusionOracleSql()),
    Query("dp20_dataset_card", (s, d) => Pipeline.datasetCard(s, d),
      OracleGen.dp20Sql()),
    Query("gr14_modularity", (s, d) => Graph.modularity(s, d),
      operators.Graph.modularityOracleSql()),
    Query("dp16_contrastive_negs",
      (s, d) => DataPrep.contrastiveNegatives(s, d),
      """WITH anchors AS (
        |  SELECT vec_id AS a_id, embedding AS a_emb
        |  FROM embeddings WHERE vec_id < 6),
        |cands AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb
        |  FROM embeddings WHERE vec_id >= 6),
        |pri AS (
        |  SELECT a.a_id, c.c_id, a.a_emb, c.c_emb,
        |    CAST(('0x' || substr(md5(
        |      CAST(a.a_id * 1000000 + c.c_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      AS u
        |  FROM cands c CROSS JOIN anchors a),
        |short AS (
        |  SELECT a_id, c_id, a_emb, c_emb,
        |    row_number() OVER (PARTITION BY a_id ORDER BY u ASC, c_id ASC)
        |      AS hrk
        |  FROM pri WHERE u < 214748364),
        |sel AS (
        |  SELECT a_id, c_id, hrk,
        |    list_cosine_similarity(CAST(a_emb AS DOUBLE[]),
        |                           CAST(c_emb AS DOUBLE[])) AS cs
        |  FROM short WHERE hrk <= 8),
        |fin AS (
        |  SELECT a_id, c_id, cs,
        |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY hrk ASC)
        |      AS INTEGER) AS rk
        |  FROM sel WHERE cs < 0.3)
        |SELECT a_id, c_id AS neg_id, rk, round(cs, 4) AS cos_sim
        |FROM fin WHERE rk <= 4 ORDER BY a_id, rk""".stripMargin),
    // mm7: the decode is REAL (ImageIO over the mixed mm2 fixture); the
    // oracle repaints the closed form and replays the 4×4 block-mean
    // average-hash with the same integer arithmetic — floor-division
    // block membership, cross-multiplied mean comparison, bit packing.
    Query("mm7_ahash_buckets", (s, d) => Multimodal.ahashBuckets(s, d),
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 14 + 3 AS INTEGER) AS width,
        |    CAST(doc_id % 11 + 3 AS INTEGER) AS height
        |  FROM documents),
        |xs AS (SELECT doc_id, width, height,
        |    unnest(generate_series(0, CAST(width AS BIGINT) - 1)) AS x
        |  FROM dims),
        |px AS (SELECT doc_id, width, height, x,
        |    unnest(generate_series(0, CAST(height AS BIGINT) - 1)) AS y
        |  FROM xs),
        |blocks AS (
        |  SELECT doc_id, ((y * 4) // height) * 4 + (x * 4) // width AS b,
        |    sum((CASE WHEN doc_id % 3 = 0
        |      THEN (doc_id * 37 + 11 * (x // 8) + 17 * (y // 8)) % 256
        |      ELSE (doc_id * 31 + 7 * x + 13 * y) % 256 END)) AS bsum,
        |    count(*) AS bcnt
        |  FROM px GROUP BY 1, 2),
        |doctot AS (
        |  SELECT doc_id, sum(bsum) AS total, sum(bcnt) AS npix
        |  FROM blocks GROUP BY 1),
        |h AS (
        |  SELECT b.doc_id,
        |    CAST(sum(CASE WHEN b.bsum * t.npix > t.total * b.bcnt
        |             THEN (1 << b.b) ELSE 0 END) AS BIGINT) AS ahash
        |  FROM blocks b JOIN doctot t USING (doc_id) GROUP BY 1)
        |SELECT ahash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM h GROUP BY ahash HAVING count(*) >= 2
        |ORDER BY n_docs DESC, ahash ASC LIMIT 25""".stripMargin),
    Query("mm10_contrast_gate", (s, d) => Multimodal.contrastGate(s, d),
      operators.Multimodal.contrastGateOracleSql()),
    Query("gr15_incremental_edges", (s, d) => Graph.incrementalEdgeAudit(s, d),
      Graph.incrementalEdgeAuditOracleSql),
    // round-7 pack: boilerplate scrub (the rewrite side of dd13),
    // gaps-and-islands streaks
    Query("dd21_span_scrub", (s, d) => Dedup.spanScrub(s, d),
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws
        |            FROM documents),
        |ch AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)))
        |           AS ci
        |       FROM ws),
        |c2 AS (SELECT doc_id, ci,
        |         array_to_string(list_slice(ws, ci * 8 + 1, ci * 8 + 8),
        |                         ' ') AS chunk
        |       FROM ch),
        |banned AS (SELECT chunk FROM c2 GROUP BY 1
        |           HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT doc_id, ci, chunk FROM c2
        |         ANTI JOIN banned USING (chunk)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |          md5(string_agg(chunk, ' ' ORDER BY ci)) AS scrubbed_md5
        |        FROM kept GROUP BY 1),
        |base AS (SELECT doc_id,
        |           CAST(ceil(len(ws) / 8.0) AS BIGINT) AS n_chunks
        |         FROM ws)
        |SELECT b.doc_id, b.n_chunks,
        |  b.n_chunks - coalesce(a.n_kept, 0) AS n_removed,
        |  coalesce(a.scrubbed_md5, md5('')) AS scrubbed_md5
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    Query("w21_streaks", (s, d) => Windows.activityStreaks(s, d),
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE)
        |    AS day FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id
        |                                  ORDER BY day) AS INTEGER)
        |      AS anchor
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS len
        |  FROM isl GROUP BY user_id, anchor),
        |longest AS (
        |  SELECT user_id, max(len) AS best FROM streaks GROUP BY 1)
        |SELECT best AS streak_len, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(user_id) AS BIGINT) AS example_user
        |FROM longest GROUP BY 1 ORDER BY streak_len DESC""".stripMargin),
    Query("gr16_double_sweep", (s, d) => Graph.doubleSweep(s, d),
      Graph.doubleSweepOracleSql()),
    Query("pv3_dp_noise", (s, d) => DataQuality.dpNoisyCounts(s, d),
      operators.DataQuality.dpNoisyCountsOracleSql()),
    Query("mm8_dhash_buckets", (s, d) => Multimodal.dhashBuckets(s, d),
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 14 + 3 AS INTEGER) AS width,
        |    CAST(doc_id % 11 + 3 AS INTEGER) AS height
        |  FROM documents),
        |xs AS (SELECT doc_id, width, height,
        |    unnest(generate_series(0, CAST(width AS BIGINT) - 1)) AS x
        |  FROM dims),
        |px AS (SELECT doc_id, width, height, x,
        |    unnest(generate_series(0, CAST(height AS BIGINT) - 1)) AS y
        |  FROM xs),
        |cells AS (
        |  SELECT doc_id, (y * 4) // height AS cy, (x * 5) // width AS cx,
        |    sum((CASE WHEN doc_id % 3 = 0
        |      THEN (doc_id * 37 + 11 * (x // 8) + 17 * (y // 8)) % 256
        |      ELSE (doc_id * 31 + 7 * x + 13 * y) % 256 END)) AS csum,
        |    count(*) AS ccnt
        |  FROM px GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT gy.by, gx.bx
        |  FROM (SELECT unnest(generate_series(0, 3)) AS by) gy,
        |       (SELECT unnest(generate_series(0, 3)) AS bx) gx),
        |h AS (
        |  SELECT d.doc_id,
        |    CAST(sum(CASE WHEN coalesce(l.csum, 0) * coalesce(r.ccnt, 0)
        |                     > coalesce(r.csum, 0) * coalesce(l.ccnt, 0)
        |             THEN (1 << (g.by * 4 + g.bx)) ELSE 0 END)
        |      AS BIGINT) AS dhash
        |  FROM dims d CROSS JOIN grid g
        |  LEFT JOIN cells l ON l.doc_id = d.doc_id
        |    AND l.cy = g.by AND l.cx = g.bx
        |  LEFT JOIN cells r ON r.doc_id = d.doc_id
        |    AND r.cy = g.by AND r.cx = g.bx + 1
        |  GROUP BY 1)
        |SELECT dhash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM h GROUP BY dhash HAVING count(*) >= 2
        |ORDER BY n_docs DESC, dhash ASC LIMIT 25""".stripMargin),
    Query("dp21_scrub_funnel", (s, d) => Pipeline.scrubTokenFunnel(s, d),
      """WITH ws AS (SELECT doc_id, text, string_split(text, ' ') AS ws
        |            FROM documents),
        |ch AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)))
        |           AS ci
        |       FROM ws),
        |c3 AS (SELECT doc_id,
        |         array_to_string(list_slice(ws, ci * 8 + 1, ci * 8 + 8),
        |                         ' ') AS chunk,
        |         len(list_slice(ws, ci * 8 + 1, ci * 8 + 8)) AS ctoks
        |       FROM ch),
        |banned AS (SELECT chunk FROM c3 GROUP BY 1
        |           HAVING count(DISTINCT doc_id) >= 3),
        |pd AS (SELECT doc_id, CAST(sum(ctoks) AS BIGINT) AS toks,
        |         CAST(sum(CASE WHEN b.chunk IS NULL THEN ctoks
        |                  ELSE 0 END) AS BIGINT) AS kept_toks
        |       FROM c3 LEFT JOIN banned b USING (chunk)
        |       GROUP BY doc_id),
        |kp AS (SELECT doc_id,
        |         CASE WHEN doc_id = min(doc_id)
        |              OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END
        |           AS keep
        |       FROM documents),
        |q AS (SELECT doc_id, round(
        |    (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.4 END)
        |      * 0.4
        |    + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
        |    + (1.0 - least(CAST(len(list_filter(ws,
        |            t -> t IN ('the', 'a'))) AS DOUBLE) / len(ws) * 2.0,
        |        1.0)) * 0.2, 4) AS quality
        |  FROM ws),
        |m AS (
        |  SELECT CAST(sum(toks) AS BIGINT) AS t0,
        |    CAST(sum(kept_toks) AS BIGINT) AS t1,
        |    CAST(sum(kept_toks * keep) AS BIGINT) AS t2,
        |    CAST(sum(kept_toks * keep
        |      * CASE WHEN quality >= 0.55 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t3
        |  FROM pd JOIN kp USING (doc_id) JOIN q USING (doc_id))
        |SELECT '1_span_scrub' AS stage, t0 AS tokens_in, t1 AS tokens_out,
        |  round(CAST(t1 AS DOUBLE) / CAST(t0 AS DOUBLE), 6) AS pct_kept
        |FROM m
        |UNION ALL SELECT '2_exact_dedup', t1, t2,
        |  round(CAST(t2 AS DOUBLE) / CAST(t1 AS DOUBLE), 6) FROM m
        |UNION ALL SELECT '3_quality_floor', t2, t3,
        |  round(CAST(t3 AS DOUBLE) / CAST(t2 AS DOUBLE), 6) FROM m
        |ORDER BY stage""".stripMargin),
    Query("st10_attribution_outer", (s, d) => Analytics.attributionOuter(s, d),
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id, p.value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin),
    Query("j11_asof_native", (s, d) => Relational.asofJoinNative(s, d),
      asofOracleSql),
    // j12: the mixed-unit interleaved as-of — the promo calendar is a
    // pure function of the order key, the match rule is j11's verbatim
    // (promo rows sort before events at the same instant; max okey
    // wins time ties), replayed with the union + ignore-nulls-window
    // form over the date lifted to timestamp.
    Query("j12_asof_promo", (s, d) => Relational.asofPromo(s, d),
      """WITH promos AS (
        |  SELECT o_custkey AS uid,
        |    CAST(DATE '2023-12-18' + CAST(o_orderkey % 50 AS INTEGER)
        |         AS TIMESTAMP) AS t,
        |    o_orderkey AS okey, CAST(NULL AS BIGINT) AS event_id
        |  FROM orders),
        |combined AS (
        |  SELECT * FROM promos
        |  UNION ALL
        |  SELECT user_id, ts, CAST(NULL AS BIGINT), event_id FROM events),
        |marked AS (
        |  SELECT uid, event_id,
        |    last_value(okey IGNORE NULLS) OVER (
        |      PARTITION BY uid
        |      ORDER BY t ASC, okey ASC NULLS LAST, event_id ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_okey
        |  FROM combined)
        |SELECT event_id, uid AS user_id, asof_okey AS promo_order_key
        |FROM marked WHERE event_id IS NOT NULL ORDER BY event_id""".stripMargin),
    Query("dd22_boiler_coverage", (s, d) => Dedup.boilerplateCoverage(s, d),
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws
        |            FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |         ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
        |         ws[i+6] || ' ' || ws[i+7])) AS gram
        |  FROM ws WHERE len(ws) >= 8),
        |cat AS (SELECT gram FROM g GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 3),
        |cov AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN c.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_boiler
        |  FROM g LEFT JOIN cat c USING (gram) GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_boiler,
        |  round(CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
        |    AS coverage
        |FROM cov WHERE n_boiler > 0
        |ORDER BY coverage DESC, doc_id ASC LIMIT 25""".stripMargin),
    Query("mm9_mime_profile", (s, d) => Multimodal.mimeProfile(s, d),
      """WITH dims AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
        |         ELSE 'image/png' END AS mime,
        |    CAST(doc_id % 14 + 3 AS INTEGER) AS width,
        |    CAST(doc_id % 11 + 3 AS INTEGER) AS height
        |  FROM documents),
        |xs AS (SELECT doc_id, mime, width, height,
        |    unnest(generate_series(0, CAST(width AS BIGINT) - 1)) AS x
        |  FROM dims),
        |px AS (SELECT doc_id, mime, width, height, x,
        |    unnest(generate_series(0, CAST(height AS BIGINT) - 1)) AS y
        |  FROM xs),
        |luma AS (
        |  SELECT doc_id, mime, width, height,
        |    sum(CASE WHEN doc_id % 3 = 0
        |        THEN (doc_id * 37 + 11 * (x // 8) + 17 * (y // 8)) % 256
        |        ELSE (doc_id * 31 + 7 * x + 13 * y) % 256 END) AS ls
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT mime, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CAST(width AS BIGINT) * height) AS BIGINT) AS sum_pixels,
        |  CAST(sum(ls) AS BIGINT) AS luma_mass
        |FROM luma GROUP BY mime ORDER BY mime""".stripMargin),
    // round-8 pack: systematic sampling over the GlobalOrder two-pass,
    // per-source lexical-diversity concentration statistics
    Query("sp6_systematic", (s, d) => Sampling.systematic(s, d),
      operators.Sampling.systematicOracleSql()),
    Query("tx25_lexical_diversity",
      (s, d) => TextAnalysis.lexicalDiversity(s, d),
      operators.TextAnalysis.lexicalDiversityOracleSql()),
    // j13: forward replay — the union form mirrored: events sort
    // BEFORE promos at the same instant so an equal-t promo falls in
    // the event's FOLLOWING frame (at-or-after includes the tie), and
    // first_value picks the min okey, the first row in right sort
    // order — exactly the exec's merge lookahead.
    Query("j13_asof_forward", (s, d) => Relational.asofForward(s, d),
      """WITH promos AS (
        |  SELECT o_custkey AS uid,
        |    CAST(DATE '2023-12-18' + CAST(o_orderkey % 50 AS INTEGER)
        |         AS TIMESTAMP) AS t,
        |    o_orderkey AS okey, CAST(NULL AS BIGINT) AS event_id
        |  FROM orders),
        |combined AS (
        |  SELECT * FROM promos
        |  UNION ALL
        |  SELECT user_id, ts, CAST(NULL AS BIGINT), event_id FROM events),
        |marked AS (
        |  SELECT uid, event_id,
        |    first_value(okey IGNORE NULLS) OVER (
        |      PARTITION BY uid
        |      ORDER BY t ASC, event_id ASC NULLS LAST, okey ASC NULLS LAST
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_okey
        |  FROM combined)
        |SELECT event_id, uid AS user_id, next_okey AS next_promo_key
        |FROM marked WHERE event_id IS NOT NULL ORDER BY event_id""".stripMargin),
    // j14: nearest replay — BOTH one-sided passes (j12's backward
    // ordering, j13's forward ordering), joined per event, then the
    // exec's distance rule re-applied in epoch micros with equal
    // distances resolving to the backward row. Distance 0 lands on the
    // backward side in both formulations (the ≤), so an equal-t promo
    // picks the same max-okey row either way.
    Query("j14_asof_nearest", (s, d) => Relational.asofNearest(s, d),
      """WITH promos AS (
        |  SELECT o_custkey AS uid,
        |    CAST(DATE '2023-12-18' + CAST(o_orderkey % 50 AS INTEGER)
        |         AS TIMESTAMP) AS t,
        |    o_orderkey AS okey, CAST(NULL AS BIGINT) AS event_id
        |  FROM orders),
        |combined AS (
        |  SELECT * FROM promos
        |  UNION ALL
        |  SELECT user_id, ts, CAST(NULL AS BIGINT), event_id FROM events),
        |b AS (
        |  SELECT uid, event_id, t,
        |    last_value(okey IGNORE NULLS) OVER w AS prev_okey,
        |    last_value(CASE WHEN okey IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER w AS prev_t
        |  FROM combined
        |  WINDOW w AS (PARTITION BY uid
        |    ORDER BY t ASC, okey ASC NULLS LAST, event_id ASC NULLS LAST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT event_id,
        |    first_value(okey IGNORE NULLS) OVER w2 AS next_okey,
        |    first_value(CASE WHEN okey IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER w2 AS next_t
        |  FROM combined
        |  WINDOW w2 AS (PARTITION BY uid
        |    ORDER BY t ASC, event_id ASC NULLS LAST, okey ASC NULLS LAST
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT b.event_id, b.uid AS user_id,
        |  CASE WHEN prev_okey IS NULL THEN next_okey
        |       WHEN next_okey IS NULL THEN prev_okey
        |       WHEN epoch_us(b.t) - epoch_us(prev_t)
        |            <= epoch_us(next_t) - epoch_us(b.t)
        |         THEN prev_okey ELSE next_okey END AS near_promo_key
        |FROM b JOIN f USING (event_id)
        |WHERE b.event_id IS NOT NULL ORDER BY b.event_id""".stripMargin),
    Query("tx26_perplexity", (s, d) => TextAnalysis.perplexityScore(s, d),
      operators.TextAnalysis.perplexityScoreOracleSql()),
    Query("a48_cuped", (s, d) => Analytics.cupedAbTest(s, d),
      operators.Analytics.cupedAbTestOracleSql()),
    Query("dp22_cluster_balance",
      (s, d) => DataPrep.clusterBalancedSample(s, d),
      operators.DataPrep.clusterBalancedSampleOracleSql()),
    Query("sim16_pq_refine", (s, d) => Similarity.pqRefineTopK(s, d),
      OracleGen.sim16Sql()),
    Query("pv4_randomized_response",
      (s, d) => DataQuality.randomizedResponse(s, d),
      operators.DataQuality.randomizedResponseOracleSql()),
    Query("dq5_profile_drift", (s, d) => DataQuality.profileDrift(s, d),
      operators.DataQuality.profileDriftOracleSql()),
    Query("dq6_referential", (s, d) => DataQuality.referentialIntegrity(s, d),
      operators.DataQuality.referentialIntegrityOracleSql()),
    Query("dp24_mixture_cal", (s, d) => DataPrep.mixtureCalibration(s, d),
      operators.DataPrep.mixtureCalibrationOracleSql()),
    Query("pv5_generalization",
      (s, d) => DataQuality.generalizationLadder(s, d),
      operators.DataQuality.generalizationLadderOracleSql()),
    Query("pv6_t_closeness", (s, d) => DataQuality.tCloseness(s, d),
      operators.DataQuality.tClosenessOracleSql()),
    Query("sp8_power_analysis", (s, d) => Sampling.powerAnalysis(s, d),
      operators.Sampling.powerAnalysisOracleSql()),
    Query("sp9_priority_estimate", (s, d) => Sampling.priorityEstimate(s, d),
      operators.Sampling.priorityEstimateOracleSql()),
    Query("dq7_calendar_gaps", (s, d) => DataQuality.calendarGaps(s, d),
      operators.DataQuality.calendarGapsOracleSql()),
    Query("dq8_functional_deps",
      (s, d) => DataQuality.functionalDependencies(s, d),
      operators.DataQuality.functionalDependenciesOracleSql()),
    Query("tx27_burstiness", (s, d) => TextAnalysis.burstiness(s, d),
      operators.TextAnalysis.burstinessOracleSql()),
    Query("a49_seasonality", (s, d) => Analytics.seasonalityStrength(s, d),
      operators.Analytics.seasonalityStrengthOracleSql()),
    // j15: independent bounded-range-join replay of the tolerance
    // rule — candidates pt ∈ [ts − 7d, ts], backward max (pt, okey)
    Query("j15_asof_tolerance", (s, d) => Relational.asofTolerance(s, d),
      """WITH promos AS (
        |  SELECT o_custkey AS uid,
        |    CAST(DATE '2023-12-18' + CAST(o_orderkey % 50 AS INTEGER)
        |      AS TIMESTAMP) AS pt,
        |    o_orderkey AS okey
        |  FROM orders),
        |cand AS (
        |  SELECT e.event_id, p.okey,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY p.pt DESC, p.okey DESC) AS rn
        |  FROM events e JOIN promos p
        |    ON p.uid = e.user_id AND p.pt <= e.ts
        |    AND p.pt >= e.ts - INTERVAL 7 DAY)
        |SELECT e.event_id, e.user_id, c.okey AS recent_promo_key
        |FROM events e
        |LEFT JOIN (SELECT event_id, okey FROM cand WHERE rn = 1) c
        |  USING (event_id)
        |ORDER BY event_id""".stripMargin),
    Query("dp23_epoch_shuffle", (s, d) => DataPrep.epochShuffleAudit(s, d),
      operators.DataPrep.epochShuffleAuditOracleSql()),
    Query("pp2_dynamic_pruning",
      (s, d) => graft.sources.Marts.dynamicPrunedDaily(s, d),
      sources.Marts.dynamicPrunedDailyOracleSql()),
    Query("tx28_readability", (s, d) => TextAnalysis.readability(s, d),
      operators.TextAnalysis.readabilityOracleSql()),
    Query("gr17_local_clustering", (s, d) => Graph.localClustering(s, d),
      operators.Graph.localClusteringOracleSql()),
    Query("gr18_rich_club", (s, d) => Graph.richClub(s, d),
      operators.Graph.richClubOracleSql()),
    Query("gr19_neighbor_deg", (s, d) => Graph.neighborDegree(s, d),
      operators.Graph.neighborDegreeOracleSql()),
    Query("sp7_jackknife", (s, d) => Sampling.jackknifeQuality(s, d),
      operators.Sampling.jackknifeQualityOracleSql()),
    Query("sq6_kaplan_meier", (s, d) => DataPrep.kaplanMeier(s, d),
      operators.DataPrep.kaplanMeierOracleSql()),
    Query("sq7_ushape_attr", (s, d) => Analytics.ushapeAttribution(s, d),
      operators.Analytics.ushapeAttributionOracleSql()),
    Query("dq4_psi_drift", (s, d) => DataQuality.psiDrift(s, d),
      operators.DataQuality.psiDriftOracleSql),
    // dd26: anchor+extension vs an anchor-FREE brute-force island
    // formulation — two different algorithms must land on the
    // bit-identical maximal-run relation
    Query("dd26_exact_substring", (s, d) => Dedup.exactSubstringRuns(s, d),
      operators.Dedup.exactSubstringOracleSql()),
    // dd27: the scrub replayed end-to-end — brute-force islands, the
    // same interval union, a NOT EXISTS range anti-join, and DuckDB's
    // ordered string_agg reproducing the reassembly md5
    Query("dd27_substring_scrub", (s, d) => Dedup.exactSubstringScrub(s, d),
      operators.Dedup.exactSubstringScrubOracleSql()),
    // dd28: the probe answered by the anchor-free brute force,
    // restricted to the probe doc's pairs
    Query("dd28_substring_probe", (s, d) => Dedup.exactSubstringProbe(s, d),
      operators.Dedup.exactSubstringProbeOracleSql()),
    Query("dd29_winnow_pairs", (s, d) => Dedup.winnowMatchPairs(s, d),
      operators.Dedup.winnowMatchPairsOracleSql()),
    Query("dd30_incr_substring",
      (s, d) => Dedup.incrementalSubstringPairs(s, d),
      operators.Dedup.incrementalSubstringOracleSql()),
    Query("dd31_self_repetition", (s, d) => Dedup.selfRepetitionRuns(s, d),
      operators.Dedup.selfRepetitionOracleSql()),
    Query("dd32_substr_decontam", (s, d) => Dedup.substringDecontaminate(s, d),
      operators.Dedup.substringDecontaminateOracleSql()),
    // dd33: the character-basis dd26 over the de-spaced (unsegmented)
    // corpus view; oracle is the brute-force k-char-gram diagonal
    // islands — no anchors, no stride, no extension
    Query("dd33_substring_cjk", (s, d) => Dedup.charSubstringRuns(s, d),
      operators.Dedup.charSubstringOracleSql()),
    // sk1: the hot-bucket attribution join (AQE skew-split demo) —
    // same bucketing and cents arithmetic replayed relationally
    Query("sk1_skew_attribution", (s, d) => Skew.hotBucketAttribution(s, d),
      operators.Skew.hotBucketAttributionOracleSql()),
    // dd34: the character-basis scrub — dd33's islands feeding dd27's
    // union/anti-join/string_agg chain, empty joiner
    Query("dd34_substring_scrub_cjk", (s, d) => Dedup.charSubstringScrub(s, d),
      operators.Dedup.charSubstringScrubOracleSql()),
    // dd35: dd3's full MinHash/LSH chain on CHARACTER shingles of the
    // de-spaced corpus — affine permutations, banding, candidates,
    // exact-Jaccard verify, all replayed over substr() shingles
    Query("dd35_minhash_cjk", (s, d) => Dedup.charMinhashPairs(s, d),
      OracleGen.dd35Sql()),
    // tx34: the CJK-ratio basis dispatch — same planted mixed-script
    // view and the same block-range regex in both engines
    Query("tx34_cjk_basis", (s, d) => TextAnalysis.cjkBasisDecision(s, d),
      operators.TextAnalysis.cjkBasisOracleSql()),
    // dd36: the router composed with BOTH chains — shared mixed-view
    // CTE, word and char LSH chains as independent tagged subqueries
    Query("dd36_mixed_dedup", (s, d) => Dedup.mixedBasisPairs(s, d),
      OracleGen.dd36Sql()),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** dd8's from-scratch component replay — shared verbatim by dd25,
    * whose contract is exact equality with the from-scratch labels.
    */
  private lazy val componentsOracleSql: String =
    """WITH RECURSIVE w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
      |           i -> array_to_string(ws[i:i+2], ' '))) AS g
      |  FROM w),
      |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM shared
      |  JOIN cnt ca ON ca.doc_id = doc_a
      |  JOIN cnt cb ON cb.doc_id = doc_b
      |  WHERE CAST(s AS DOUBLE) / (ca.n + cb.n - s) >= 0.5),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach(doc, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.doc)
      |SELECT doc AS doc_id, min(r) AS comp FROM reach
      |GROUP BY doc ORDER BY doc_id""".stripMargin

  /** j6's union + ignore-nulls-window replay — shared verbatim by j11,
    * the native merge exec: two independent formulations hashed
    * against the same third-engine replay.
    */
  private lazy val asofOracleSql: String =
    """WITH combined AS (
      |  SELECT o_custkey AS uid, o_orderdate AS t, o_orderkey AS okey,
      |         CAST(NULL AS BIGINT) AS event_id
      |  FROM orders
      |  UNION ALL
      |  SELECT user_id, ts, CAST(NULL AS BIGINT), event_id FROM events),
      |marked AS (
      |  SELECT uid, event_id,
      |    last_value(okey IGNORE NULLS) OVER (
      |      PARTITION BY uid
      |      ORDER BY t ASC, okey ASC NULLS LAST, event_id ASC NULLS LAST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_okey
      |  FROM combined)
      |SELECT event_id, uid AS user_id, asof_okey AS last_order_key
      |FROM marked WHERE event_id IS NOT NULL ORDER BY event_id""".stripMargin

  /** dd9's train/eval shared-trigram relation — shared verbatim by the
    * bloom + shuffle path, so the gate proves the two paths identical.
    */
  private lazy val decontamOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
      |           i -> array_to_string(ws[i:i+2], ' '))) AS g
      |  FROM w)
      |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
      |  count(*) AS n_shared
      |FROM grams t JOIN grams e ON t.g = e.g
      |WHERE e.doc_id % 97 = 0 AND t.doc_id % 97 <> 0
      |GROUP BY 1, 2 ORDER BY train_doc, eval_doc""".stripMargin

  /** dd2's independent all-pairs n-gram Jaccard — shared verbatim by
    * dd19, whose prefix filter is lossless.
    */
  private lazy val ngramJaccardOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
      |           i -> array_to_string(ws[i:i+2], ' '))) AS g
      |  FROM w),
      |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT doc_a, doc_b, CAST(s AS DOUBLE) / (ca.n + cb.n - s) AS jac
      |  FROM shared
      |  JOIN cnt ca ON ca.doc_id = doc_a
      |  JOIN cnt cb ON cb.doc_id = doc_b)
      |SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j
      |WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
}
