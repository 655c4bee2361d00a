package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact.ln4Sql

/** Driver-contract wiring for the relational suite (SURVEY.md §2.2). */
object RelationalQueries {

  private val discPriceSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", Relational.pricingSummary, Some(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($discPriceSql) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE) AS avg_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_extendedprice) AS DOUBLE) AS avg_price,
         |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_discount) AS DOUBLE) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q3_shipping_priority", Relational.shippingPriority, Some(
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-01'
         |  AND l_shipdate > TIMESTAMP '1998-06-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    QueryDef("q5_region_revenue", Relational.regionRevenue, Some(
      s"""SELECT n_name, CAST(sum($discPriceSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    QueryDef("q6_forecast_revenue", Relational.forecastRevenue, Some(
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06
        |  AND l_quantity < 24""".stripMargin)),

    QueryDef("q4_order_priority", Relational.orderPriorityLateShip, Some(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("join_dim_stats", Relational.regionCustomerStats, Some(
      """SELECT r_name, count(DISTINCT n_nationkey) AS n_nations,
        |  count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(c_acctbal) AS DOUBLE) AS avg_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    QueryDef("semi_join_customers", Relational.customersWithOrders, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("anti_join_customers", Relational.customersWithoutOrders, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("agg_stats_by_flag", Relational.aggStatsByFlag, Some(
      """SELECT l_returnflag, count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE) AS avg_qty,
        |  round(sqrt((CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |    / (CAST(count(*) AS DOUBLE) - 1.0)), 6) AS std_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef("rollup_revenue", Relational.rollupRevenue, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),

    QueryDef("cube_revenue", Relational.cubeRevenue, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),

    QueryDef("agg_exact_distinct", Relational.exactDistinct, Some(
      """SELECT l_returnflag,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("agg_approx_distinct", Relational.approxDistinct, None),
    QueryDef("agg_approx_percentiles", Relational.approxPercentilesByFlag, None),

    // graded audit twins of the two sketches (r11 verdict item 7): the
    // exact context columns are DuckDB-checkable; the `ok` flags carry
    // the published error bound as the gate — the oracle asserts the
    // contract holds (ok = 1), so a sketch violating its bound fails
    // the driver's hash compare
    QueryDef("agg_approx_distinct_audit",
      Relational.approxDistinctAudit,
      Some(
        """SELECT l_returnflag,
          |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
          |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders_exact,
          |  CAST(150 AS BIGINT) AS bound_permille,
          |  CAST(1 AS BIGINT) AS parts_ok,
          |  CAST(1 AS BIGINT) AS orders_ok
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)),

    QueryDef("agg_approx_percentiles_audit",
      Relational.approxPercentileAudit,
      Some(
        """WITH f AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem)
          |SELECT CAST(q_permille AS BIGINT) AS q_permille, n AS n_rows,
          |  CAST((n * (q_permille - 1)) // 1000 - 1 AS BIGINT) AS rank_lo_req,
          |  CAST((n * (q_permille + 1) + 999) // 1000 + 1 AS BIGINT) AS rank_hi_req,
          |  CAST(1 AS BIGINT) AS ok
          |FROM f CROSS JOIN (SELECT unnest([250, 500, 900]) AS q_permille) t
          |ORDER BY q_permille""".stripMargin)),

    QueryDef("q18_large_orders", Relational.largeVolumeOrders, Some(
      """WITH big AS (
        |  SELECT l_orderkey,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT o_orderkey, o_custkey, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("string_agg_regions", Relational.nationsPerRegion, Some(
      """SELECT r_name, count(*) AS n_nations,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    QueryDef("below_avg_quantity", Relational.belowAvgQuantity, Some(
      """SELECT l_partkey,
        |       CAST(count(*) AS BIGINT) AS n_below,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_below
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_partkey
        |ORDER BY l_partkey""".stripMargin)),

    QueryDef("agg_percentiles", Relational.percentilesByFlag, Some(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef("equidepth_histogram", Relational.equidepthHistogram, Some(
      """WITH b AS (
        |  SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
        |         round(quantile_cont(l_extendedprice, 0.5), 6) AS q2,
        |         round(quantile_cont(l_extendedprice, 0.75), 6) AS q3
        |  FROM lineitem),
        |k AS (
        |  SELECT l_extendedprice AS v,
        |    (CASE WHEN l_extendedprice > q1 THEN 1 ELSE 0 END +
        |     CASE WHEN l_extendedprice > q2 THEN 1 ELSE 0 END +
        |     CASE WHEN l_extendedprice > q3 THEN 1 ELSE 0 END) AS bucket
        |  FROM lineitem, b)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
        |  min(v) AS lo, max(v) AS hi
        |FROM k GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // heavy-tail-robust mean: exact [p01,p99] clip (broadcast bounds,
    // 1e-6-rounded cutoffs), DECIMAL-exact raw vs winsorized sums
    QueryDef("winsorized_stats",
      (s, d) => Relational.winsorizedStats(s, d), Some(
        """WITH b AS (
          |  SELECT round(quantile_cont(l_extendedprice, 0.01), 6) AS p01,
          |         round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
          |  FROM lineitem),
          |k AS (
          |  SELECT l_extendedprice AS v, p01, p99,
          |    greatest(p01, least(l_extendedprice, p99)) AS w
          |  FROM lineitem, b)
          |SELECT count(*) AS n,
          |  CAST(sum(CASE WHEN v < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
          |  CAST(sum(CASE WHEN v > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
          |  max(p01) AS p01, max(p99) AS p99,
          |  round(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_raw,
          |  round(CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_winsorized
          |FROM k""".stripMargin)),

    QueryDef("iqr_outliers", Relational.iqrOutliers, Some(
      """WITH b AS (
        |  SELECT round(quantile_cont(value, 0.25), 6) AS q1,
        |         round(quantile_cont(value, 0.75), 6) AS q3
        |  FROM events),
        |f AS (SELECT q1 - (q3 - q1) * 1.5 AS lo_fence,
        |             q3 + (q3 - q1) * 1.5 AS hi_fence FROM b)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN value < lo_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN value > hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  round(CAST(sum(CASE WHEN value < lo_fence THEN 1 ELSE 0 END)
        |           + sum(CASE WHEN value > hi_fence THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE), 6) AS outlier_ratio
        |FROM events, f GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("grouping_sets_revenue", Relational.groupingSetsRevenue, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY returnflag, linestatus""".stripMargin)),

    QueryDef("window_analytics", Relational.orderAnalytics, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(percent_rank() OVER w, 6) AS prnk,
        |  round(cume_dist() OVER w, 6) AS cdist,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_custkey, drnk, o_orderkey""".stripMargin)),

    // salted two-phase aggregation: identical results to a direct GROUP BY
    // (sums are associative), so the plain SQL is a valid oracle — what's
    // being exercised is the skew-resistant physical shape
    QueryDef("salted_agg_qty",
      (s, d) => Skew.saltedSum(graft.Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_orderkey"), Some(
        """SELECT l_returnflag,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
          |  count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // salted join: same rewrite-proven-by-oracle pattern — the oracle is
    // the PLAIN join, the Spark side shuffles on (key, salt)
    QueryDef("salted_join_revenue",
      (s, d) => Skew.saltedJoinRevenue(
        graft.Tables.lineitem(s, d), graft.Tables.orders(s, d)), Some(
        s"""SELECT o_orderpriority, count(*) AS n_items,
           |  CAST(sum($discPriceSql) AS DOUBLE) AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // same oracle as window_top3_orders: the typed single-pass aggregator
    // must reproduce the window formulation exactly (tie-break included)
    QueryDef("grouped_topk", Relational.groupedTopK, Some(
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, rn, o_orderkey, o_totalprice FROM r
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    QueryDef("window_top3_orders", Relational.top3OrdersPerCustomer, Some(
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, rn, o_orderkey, o_totalprice FROM r
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    QueryDef("window_monthly_lag", Relational.monthlyRevenueLag, Some(
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  lag(revenue) OVER (ORDER BY month) AS prev_revenue,
        |  revenue - lag(revenue) OVER (ORDER BY month) AS delta
        |FROM m ORDER BY month""".stripMargin)),

    QueryDef("set_ops_nations", Relational.nationSetOps, Some(
      """WITH c AS (SELECT DISTINCT c_nationkey AS k FROM customer),
        |     s AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
        |SELECT 'both' AS tag, k FROM (SELECT k FROM c INTERSECT SELECT k FROM s)
        |UNION ALL
        |SELECT 'cust_only' AS tag, k FROM (SELECT k FROM c EXCEPT SELECT k FROM s)
        |UNION ALL
        |SELECT 'supp_only' AS tag, k FROM (SELECT k FROM s EXCEPT SELECT k FROM c)
        |ORDER BY tag, k""".stripMargin)),

    QueryDef("string_funcs_part", Relational.stringFuncsPart, Some(
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_upper,
        |  lower(p_type) AS type_lower,
        |  substring(p_name, 1, 8) AS name_prefix,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
        |  concat(p_brand, ':', p_type) AS brand_type,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
        |  reverse(p_brand) AS brand_rev,
        |  CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class
        |FROM part ORDER BY p_partkey""".stripMargin)),

    QueryDef("date_funcs_orders", Relational.dateFuncsOrders, Some(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mon,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS days_since_epoch,
        |  o_orderdate + INTERVAL 30 DAY AS deadline
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Z-order key audit: every bit of the 32-bit Morton interleave is
    // load-bearing in the min/max/sum columns (the layout operator
    // itself is write-side — ZorderSpec measures its row-group skip)
    QueryDef("zorder_curve",
      (s, d) => Zorder.zorderCurve(Tables.lineitem(s, d)), Some {
        val terms = (0 until 16).map { i =>
          s"((x // ${1L << i}) % 2) * ${1L << (2 * i)} + ((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        s"""WITH t AS (
           |  SELECT ((l_partkey * 48271) % 65536) AS x,
           |         ((l_suppkey * 16807) % 65536) AS y FROM lineitem),
           |z AS (SELECT ($terms) AS zkey FROM t)
           |SELECT zkey // 536870912 AS octant, count(*) AS n,
           |  min(zkey) AS z_min, max(zkey) AS z_max,
           |  CAST(sum(zkey) AS BIGINT) AS z_sum
           |FROM z GROUP BY 1 ORDER BY octant""".stripMargin
      }),

    // Iterative SQL: the integer-floored EMA is order-R recursive by
    // construction (each month consumes the previous month's rounded
    // value), so both engines must actually run the recursion — Spark
    // through UnionLoopExec, DuckDB through its recursive CTE executor —
    // and the BIGINT cents arithmetic makes the match digit-exact.
    QueryDef("recursive_quarterly_ema", Relational.recursiveQuarterlyEma, Some(
      """WITH RECURSIVE months AS (
        |  SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS i, m, rev
        |  FROM (SELECT date_trunc('quarter', o_orderdate) AS m,
        |               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev
        |        FROM orders GROUP BY 1)),
        |ema(i, m, rev, ema_cents) AS (
        |  SELECT i, m, rev, rev FROM months WHERE i = 1
        |  UNION ALL
        |  SELECT mo.i, mo.m, mo.rev, (e.ema_cents * 9 + mo.rev) // 10
        |  FROM ema e JOIN months mo ON mo.i = e.i + 1)
        |SELECT i AS quarter_idx, m AS quarter, rev AS revenue_cents, ema_cents
        |FROM ema ORDER BY quarter_idx""".stripMargin)),

    // order-independent table digests (the cross-cluster parity
    // primitive, oracle-gated): bit_xor of a 56-bit md5-prefix row hash
    QueryDef("table_fingerprint",
      (s, d) => Relational.tableFingerprints(s, d),
      Some {
        def one(name: String, rows: String) =
          s"""SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  bit_xor(${hexBig(14)}) AS xor_digest
             |FROM ($rows) h""".stripMargin
        val docs = one("documents",
          "SELECT md5(concat_ws('|', doc_id, lang, source, n_chars, md5(text))) AS hex FROM documents")
        val ev = one("events",
          "SELECT md5(concat_ws('|', event_id, user_id, epoch_us(ts), event_type, CAST(round(value*1000) AS BIGINT))) AS hex FROM events")
        val li = one("lineitem",
          "SELECT md5(concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber, " +
            "CAST(round(l_quantity*100) AS BIGINT), CAST(round(l_extendedprice*100) AS BIGINT), " +
            "CAST(round(l_discount*100) AS BIGINT), CAST(round(l_tax*100) AS BIGINT))) AS hex FROM lineitem")
        s"""SELECT * FROM ($docs UNION ALL $ev UNION ALL $li) u
           |ORDER BY table_name""".stripMargin
      }),

    // deterministic Poisson-weight bootstrap: md5-uniform inverse-CDF
    // weights (16 per digest — byte j of md5(rid@blk) feeds replicate
    // 16*blk + j), exact integer replicate means, order-statistic CI
    QueryDef("bootstrap_ci",
      (s, d) => Relational.bootstrapCi(s, d),
      Some(
        s"""WITH li AS (
           |  SELECT CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR) AS rid,
           |         CAST(round(l_quantity * 100) AS BIGINT) AS qc
           |  FROM lineitem),
           |h AS (
           |  SELECT qc, blk, md5(rid || '@' || CAST(blk AS VARCHAR)) AS hex
           |  FROM li CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS blk) bb),
           |e AS (
           |  SELECT qc, blk, j,
           |    (CAST(a1 - CASE WHEN a1 >= 97 THEN 87 ELSE 48 END AS BIGINT) * 16
           |     + CAST(a2 - CASE WHEN a2 >= 97 THEN 87 ELSE 48 END AS BIGINT)) AS u
           |  FROM (
           |    SELECT qc, blk, j,
           |      ascii(substr(hex, 2 * j + 1, 1)) AS a1,
           |      ascii(substr(hex, 2 * j + 2, 1)) AS a2
           |    FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) jj) t),
           |wts AS (
           |  SELECT qc, blk, j,
           |    CASE WHEN u < 94 THEN 0 WHEN u < 188 THEN 1 WHEN u < 235 THEN 2
           |         WHEN u < 251 THEN 3 WHEN u < 255 THEN 4 ELSE 5 END AS w
           |  FROM e),
           |pb AS (
           |  SELECT blk * 16 + j AS b,
           |    CAST((10000 * CAST(sum(w * qc) AS HUGEINT)) // CAST(sum(w) AS HUGEINT) AS BIGINT)
           |      AS mean_micro
           |  FROM wts GROUP BY blk, j
           |  HAVING sum(w) > 0),
           |ms AS (SELECT list_sort(list(mean_micro)) AS ms,
           |         CAST(count(*) AS BIGINT) AS nr FROM pb),
           |f AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |        CAST((10000 * CAST(sum(qc) AS HUGEINT)) // count(*) AS BIGINT)
           |          AS mean_full_micro
           |      FROM li)
           |SELECT n_rows, nr AS n_resamples, mean_full_micro,
           |  CASE WHEN nr = 0 THEN CAST(NULL AS BIGINT)
           |       ELSE ms[CAST((nr * 5 + 99) // 100 AS INT)] END AS ci_lo_micro,
           |  CASE WHEN nr = 0 THEN CAST(NULL AS BIGINT)
           |       ELSE ms[CAST((nr * 95 + 99) // 100 AS INT)] END AS ci_hi_micro
           |FROM f, ms""".stripMargin)),

    // join-key skew diagnostics: key-grain (max freq over mean) and
    // partition-grain (rows per md5-bucket mod 32) skew in permille
    QueryDef("revenue_gini",
      (s, d) => Relational.revenueGini(s, d), Some(
        """WITH oc AS (
          |  SELECT o_custkey,
          |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |      AS cents
          |  FROM orders GROUP BY 1),
          |x AS (
          |  SELECT c.c_nationkey, c.c_custkey,
          |    coalesce(oc.cents, 0) AS x
          |  FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey),
          |r AS (
          |  SELECT c_nationkey, x,
          |    CAST(row_number() OVER (PARTITION BY c_nationkey
          |        ORDER BY x, c_custkey) AS BIGINT) AS i
          |  FROM x),
          |a AS (
          |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_custs,
          |    CAST(sum(x) AS BIGINT) AS total_cents,
          |    sum(CAST(i AS HUGEINT) * x) AS six
          |  FROM r GROUP BY 1)
          |SELECT n.n_name, a.n_custs, a.total_cents,
          |  CAST(CASE WHEN total_cents > 0 THEN
          |    (1000 * (2 * six - (n_custs + 1) * CAST(total_cents AS HUGEINT)))
          |    // (n_custs * CAST(total_cents AS HUGEINT)) END AS BIGINT)
          |    AS gini_permille
          |FROM a JOIN nation n ON n.n_nationkey = a.c_nationkey
          |ORDER BY n.n_name""".stripMargin)),

    QueryDef("fk_integrity",
      (s, d) => Relational.fkIntegrity(s, d), Some(
        """SELECT 'orders_orphan_custkey' AS "check",
          |  CAST(sum(CASE WHEN o_custkey IS NOT NULL AND c.c_custkey IS NULL
          |       THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
          |  CAST(count(*) AS BIGINT) AS n_total
          |FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          |  ON c.c_custkey = o.o_custkey
          |UNION ALL
          |SELECT 'lineitem_orphan_orderkey',
          |  CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
          |       THEN 1 ELSE 0 END) AS BIGINT),
          |  CAST(count(*) AS BIGINT)
          |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          |  ON o.o_orderkey = l.l_orderkey
          |UNION ALL
          |SELECT 'customer_dup_pk',
          |  CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT),
          |  CAST(count(*) AS BIGINT)
          |FROM customer
          |UNION ALL
          |SELECT 'orders_dup_pk',
          |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
          |  CAST(count(*) AS BIGINT)
          |FROM orders
          |UNION ALL
          |SELECT 'orders_null_custkey',
          |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |  CAST(count(*) AS BIGINT)
          |FROM orders
          |ORDER BY "check"""".stripMargin)),

    QueryDef("key_skew_stats",
      (s, d) => Relational.keySkewStats(s, d),
      Some {
        def one(name: String, keyRows: String) =
          s"""SELECT '$name' AS key_name, n_rows, n_keys, key_max,
             |  (1000 * key_max * n_keys) // n_rows AS key_skew_permille,
             |  part_min, part_max,
             |  (1000 * part_max * 32) // n_rows AS part_skew_permille
             |FROM (
             |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             |    CAST(count(*) AS BIGINT) AS n_keys,
             |    CAST(max(c) AS BIGINT) AS key_max
             |  FROM (SELECT k, count(*) AS c FROM ($keyRows) kr GROUP BY k) cc) ks,
             |(
             |  SELECT CAST(min(pc) AS BIGINT) AS part_min,
             |    CAST(max(pc) AS BIGINT) AS part_max
             |  FROM (SELECT p, count(*) AS pc FROM (
             |    SELECT ${hexBig(2)} % 32 AS p FROM
             |      (SELECT md5(k) AS hex FROM ($keyRows) kr2) hh) pp
             |    GROUP BY p) pg) ps""".stripMargin
        val ev = one("events.user_id",
          "SELECT CAST(user_id AS VARCHAR) AS k FROM events")
        val li = one("lineitem.l_orderkey",
          "SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem")
        s"""SELECT * FROM ($ev UNION ALL $li) u ORDER BY key_name""".stripMargin
      }),

    // Theil inequality per nation: decomposable twin of revenue_gini,
    // quantized-ln ladder over positive spends
    QueryDef("revenue_theil",
      (s, d) => Relational.revenueTheil(s, d), Some {
        s"""WITH oc AS (
           |  SELECT o_custkey,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS cents
           |  FROM orders GROUP BY 1),
           |x AS (
           |  SELECT c.c_nationkey, coalesce(oc.cents, 0) AS x
           |  FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey),
           |a AS (
           |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_custs_total,
           |    CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_pos,
           |    CAST(sum(x) AS BIGINT) AS s,
           |    sum(CASE WHEN x > 0 THEN CAST(x AS HUGEINT) * ${ln4Sql("x")}
           |        ELSE 0 END) AS xl4
           |  FROM x GROUP BY 1)
           |SELECT n.n_name, a.n_custs_total, a.n_pos, a.s AS total_cents,
           |  CAST(CASE WHEN s > 0 AND n_pos > 0 THEN
           |    (CASE WHEN xl4 + CAST(s AS HUGEINT) *
           |       (${ln4Sql("n_pos")} - ${ln4Sql("s")}) < 0 THEN -1 ELSE 1 END) *
           |    ((100 * abs(xl4 + CAST(s AS HUGEINT) *
           |       (${ln4Sql("n_pos")} - ${ln4Sql("s")}))) // s) END AS BIGINT)
           |    AS theil_micro
           |FROM a JOIN nation n ON n.n_nationkey = a.c_nationkey
           |ORDER BY n.n_name""".stripMargin
      }),

    // supplier revenue HHI per region: exact ppm concentration
    QueryDef("supplier_hhi",
      (s, d) => Relational.supplierHhi(s, d), Some(
        """WITH bs AS (
          |  SELECT l_suppkey,
          |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
          |      AS BIGINT) AS x
          |  FROM lineitem GROUP BY 1),
          |a AS (
          |  SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
          |    CAST(sum(x) AS BIGINT) AS total_cents,
          |    sum(CAST(x AS HUGEINT) * x) AS xx
          |  FROM bs JOIN supplier s ON s.s_suppkey = bs.l_suppkey
          |  JOIN nation n ON n.n_nationkey = s.s_nationkey
          |  JOIN region r ON r.r_regionkey = n.n_regionkey
          |  GROUP BY 1)
          |SELECT r_name, n_suppliers, total_cents,
          |  CAST(CASE WHEN total_cents > 0 THEN (1000000 * xx) //
          |    (CAST(total_cents AS HUGEINT) * total_cents) END AS BIGINT)
          |    AS hhi_ppm
          |FROM a ORDER BY r_name""".stripMargin)),

    // Lorenz deciles of customer spend: exact rank-decile cut +
    // cumulative share (the curve behind revenue_gini)
    QueryDef("lorenz_deciles",
      (s, d) => Relational.lorenzDeciles(s, d), Some(
        """WITH oc AS (
          |  SELECT o_custkey,
          |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |      AS cents
          |  FROM orders GROUP BY 1),
          |x AS (
          |  SELECT c.c_custkey, coalesce(oc.cents, 0) AS x
          |  FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey),
          |r AS (
          |  SELECT x,
          |    CAST(row_number() OVER (ORDER BY x, c_custkey) AS BIGINT)
          |      AS r,
          |    CAST(count(*) OVER () AS BIGINT) AS n
          |  FROM x),
          |bd AS (
          |  SELECT (r * 10 + n - 1) // n AS decile,
          |    CAST(count(*) AS BIGINT) AS n_custs,
          |    CAST(sum(x) AS BIGINT) AS cents
          |  FROM r GROUP BY 1),
          |tc AS (SELECT CAST(sum(cents) AS BIGINT) AS tc FROM bd)
          |SELECT decile, n_custs, cents,
          |  CAST(CASE WHEN tc > 0 THEN
          |    (1000 * CAST(cents AS HUGEINT)) // tc END AS BIGINT)
          |    AS share_permille,
          |  CAST(CASE WHEN tc > 0 THEN
          |    (1000 * CAST(sum(cents) OVER (ORDER BY decile
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS HUGEINT)) // tc END AS BIGINT) AS cum_share_permille
          |FROM bd, tc ORDER BY decile""".stripMargin)),
  )

  private def hexBig(nNib: Int): String = TextAnalysisQueries.hexBigSql(nNib)
}
