package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / graph analytics over the star schema — market-basket
  * rules, co-purchase graph structure, customer segmentation, and
  * event-sequence mining. Same exactness discipline as [[Stats]]:
  * integer counts, cent/ppm quantization by floor-div on non-negative
  * magnitudes, deterministic ties. */
object Behavior {

  /** Shared plan/oracle literals (the Search.MmrLambdaPermille rule). */
  val BasketTopK = 20
  val TriangleMinCo = 2

  /** MARKET-BASKET ASSOCIATION RULES over parts co-purchased in one
    * order: support / confidence / lift for the top-20 part pairs.
    * All ratios are exact integer floor-divs: support_ppm =
    * 10⁶·n₁₂ div N, confidence_ppm (p1→p2) = 10⁶·n₁₂ div n₁, and
    * lift_milli = 1000·N·n₁₂ div (n₁·n₂) (the ×N numerator rides
    * DECIMAL(38,0)). Pairs are oriented p1 < p2; top-20 by
    * (n₁₂ desc, p1, p2) — fully deterministic.
    *
    * Scale shape: baskets come from ONE distinct (order, part)
    * projection; the pair generation is a self-equi-join ON THE ORDER
    * KEY, so its output is Σ sᵢ² over basket sizes — TPC-H baskets
    * are ≤ 7 lines, so ≤ 21 pairs/order, linear in orders forever
    * (for long-tail baskets, cap the basket size upstream — the
    * cappedBandsPlan discipline; no cap is needed for this schema and
    * none is silently applied). Per-part counts join back by part
    * key; the final top-20 is a TakeOrdered, never a global sort. */
  /** Distinct (order, part) basket projection. */
  def basketItems(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
      .distinct()

  /** Oriented co-purchase pair counts (p1 < p2, n12) — the ONE pair
    * aggregation [[basketLift]] and [[trianglesCoPurchase]] both
    * consume; the registry builds it once as a content-keyed cached
    * index (SharedIntermediates.coPurchasePairs — the two entries
    * independently re-ran this Σs² join, 2×~9 s CPU at sf0.1). */
  def pairCounts(items: DataFrame): DataFrame =
    items.as("a")
      .join(items.as("b"),
        col("a.okey") === col("b.okey") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("n12"))

  def basketLift(li: DataFrame, k: Int = BasketTopK): DataFrame = {
    val items = Materialize.stage(basketItems(li))
    basketLiftFrom(items, pairCounts(items), k)
  }

  /** [[basketLift]] over PREBUILT items/pairs (the shared-index path). */
  def basketLiftFrom(items: DataFrame, pairs: DataFrame,
      k: Int = BasketTopK): DataFrame = {
    val nOrders = items.select(countDistinct(col("okey")).as("n_orders"))
    val partN = items.groupBy(col("p")).agg(count(lit(1)).as("np"))
    pairs
      .orderBy(col("n12").desc, col("p1"), col("p2")).limit(k)
      .join(partN.select(col("p").as("p1"), col("np").as("n1")), "p1")
      .join(partN.select(col("p").as("p2"), col("np").as("n2")), "p2")
      .crossJoin(nOrders)
      .select(col("p1"), col("p2"), col("n12"), col("n1"), col("n2"),
        expr("1000000 * n12 div n_orders").as("support_ppm"),
        expr("1000000 * n12 div n1").as("conf_p1_to_p2_ppm"),
        expr("CAST((1000 * CAST(n_orders AS DECIMAL(38,0)) * n12)" +
          " div (n1 * n2) AS BIGINT)").as("lift_milli"))
      .orderBy(col("n12").desc, col("p1"), col("p2"))
  }

  /** TRIANGLE CENSUS of the co-purchase graph — the clustering
    * structure readout (recommendation graphs with triangles support
    * neighborhood-based scoring; a triangle-free graph does not).
    * Nodes are parts; an edge connects parts co-purchased in ≥
    * `minCo` orders (the threshold keeps the graph sparse — the LSH
    * frequent-band-cap discipline applied to graph building). One
    * row: (n_nodes, n_edges, n_triangles, n_open_wedges,
    * closure_permille = 1000·3Δ div wedges — the global clustering
    * coefficient).
    *
    * Exact and deterministic by construction (counts only). The
    * triangle join orients edges a < b and joins e(a,b) ⋈ e(b,c) ⋈
    * e(a,c) — each triangle counted exactly once. Wedges come from
    * per-node degrees: Σ d(d−1)/2, one aggregate.
    *
    * Scale shape: the wedge join's cost is Σ_b d_in(b)·d_out(b) over
    * the THRESHOLDED edge set — minCo is the knob that bounds it (at
    * 100 TB raise minCo, identical plan; the operator publishes
    * n_edges so the knob is auditable). Everything shuffles on node
    * keys; nothing corpus-sized crosses unpartitioned. */
  def trianglesCoPurchase(li: DataFrame,
      minCo: Int = TriangleMinCo): DataFrame =
    trianglesFrom(pairCounts(Materialize.stage(basketItems(li))), minCo)

  /** [[trianglesCoPurchase]] over PREBUILT pair counts. */
  def trianglesFrom(pairs: DataFrame,
      minCo: Int = TriangleMinCo): DataFrame = {
    // oriented sparse edge set (a < b, thresholded) — staged: feeds
    // the degree aggregate and all three legs of the triangle join
    val edges = Materialize.stage(pairs
      .filter(col("n12") >= minCo)
      .select(col("p1").as("a"), col("p2").as("b")))
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e2.a") === col("e1.b"))
      .join(edges.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      // coalesce: an all-below-threshold corpus yields an EMPTY edge
      // set, and a NULL edge count is not a zero edge count
      expr("coalesce(sum(d), 0) div 2").as("n_edges"),
      expr("coalesce(sum(d * (d - 1)), 0) div 2").as("n_wedges"))
    stats.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        (col("n_wedges") - lit(3L) * col("n_triangles"))
          .as("n_open_wedges"),
        expr("CAST(CASE WHEN n_wedges > 0 THEN " +
          "(1000 * 3 * n_triangles) div n_wedges END AS BIGINT)")
          .as("closure_permille"))
  }

  /** RFM CUSTOMER SEGMENTATION — the classic marketing cut: each
    * customer scored 1–4 on Recency (days since last order, newest =
    * 4), Frequency (order count), Monetary (lifetime cents), by EXACT
    * quartile of rank; output is the segment rollup (counts + mean
    * monetary per (r, f, m) cell, ≤ 64 rows). Quartile code =
    * ⌈4·rank/n⌉ = (4·rank + n − 1) div n with rank = row_number over
    * (metric, custkey) — deterministic under ties, identical both
    * engines. Customers with no orders score recency/frequency/
    * monetary at the low end (rank by (−∞ stand-ins: last_day NULL →
    * sorted FIRST via nulls-first, frequency 0, cents 0)).
    *
    * Scale shape: one orders aggregate per customer (shuffle on the
    * FK), then three rank windows over the CUSTOMER dimension —
    * unpartitioned, the grouped_percentiles/md5_global_rank
    * honest-exact-rank class (exact quantiles need a global order;
    * the dimension table is ~1/10⁴ of the fact table, so the sort is
    * a dimension-sized cost, PlanShapeSpec-allowlisted) — and a ≤
    * 64-row rollup. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val perCust = Materialize.stage(graft.Tables.customer(s, d)
      .select(col("c_custkey"))
      .join(graft.Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(max(to_date(col("o_orderdate"))).as("last_day"),
            count(lit(1)).as("freq"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents")),
        col("o_custkey") === col("c_custkey"), "left")
      .select(col("c_custkey"), col("last_day"),
        coalesce(col("freq"), lit(0L)).as("freq"),
        coalesce(col("cents"), lit(0L)).as("cents")))
    rfmFrom(perCust)
  }

  /** The rank-window → quartile-code → segment-aggregate stage of
    * [[rfmSegments]], over any (c_custkey, last_day, freq, cents)
    * dimension table — factored out so the `rankdim` scenario of
    * [[graft.Flagship]] can drive the EXACT shipped window shape at 10⁸
    * synthetic rows (r13 verdict item 7: measure the honest-exact-rank
    * allowlist class at dimension scale instead of arguing it). */
  def rfmFrom(perCust: DataFrame): DataFrame = {
    // honest-exact global ranks over the customer DIMENSION
    // (allowlisted; see scaladoc). ⌈4r/n⌉ as the integral
    // (4r + n − 1) div n — `div`, not `/` (Spark `/` on longs is
    // DOUBLE division). row_number() is IntegerType: this exact-rank
    // path holds to 2³¹ customers (review-documented bound).
    def rk(order: Seq[org.apache.spark.sql.Column]) =
      row_number().over(Window.orderBy(order: _*)).cast("long")
    perCust
      .withColumn("r_rank",
        rk(Seq(col("last_day").asc_nulls_first, col("c_custkey").asc)))
      .withColumn("f_rank", rk(Seq(col("freq").asc, col("c_custkey").asc)))
      .withColumn("m_rank", rk(Seq(col("cents").asc, col("c_custkey").asc)))
      .withColumn("nc", count(lit(1)).over(Window.partitionBy()))
      .withColumn("r_code", expr("(r_rank * 4 + nc - 1) div nc"))
      .withColumn("f_code", expr("(f_rank * 4 + nc - 1) div nc"))
      .withColumn("m_code", expr("(m_rank * 4 + nc - 1) div nc"))
      .groupBy(col("r_code"), col("f_code"), col("m_code"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("cents")).as("total_cents"),
        expr("sum(cents) div count(1)").as("mean_cents"))
      .orderBy("r_code", "f_code", "m_code")
  }

  /** EVENT-TYPE TRIGRAM MINING — the frequent-path readout of a
    * product funnel: each user's (ts, event_id)-ordered stream yields
    * its sliding 3-grams of event types; output the top-20 trigrams
    * with count and share-of-all-trigrams ppm (ties to the
    * lexicographic trigram). The 2-gram twin is event_transitions;
    * three steps is where funnel ORDER starts to matter
    * (view→view→purchase vs purchase→view→view).
    *
    * Scale shape: two lag windows PARTITIONED BY USER (the sessionize
    * class), a partial-aggregated count keyed by the ≤ |types|³ = 125
    * bounded trigram domain, a one-row total broadcast, TakeOrdered
    * top-20. */
  def eventTrigrams(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // STAGED: the ≤|types|³-row trigram table feeds the total scalar
    // AND the probe side — unstaged, the corpus lag-window pass sits
    // twice in the plan (review finding; the ks_drift staging rule)
    val grams = Materialize.stage(events
      .select(col("user_id"), col("event_type").as("t3"),
        lag(col("event_type"), 1).over(w).as("t2"),
        lag(col("event_type"), 2).over(w).as("t1"))
      .filter(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n")))
    val total = grams.agg(sum(col("n")).as("total"))
    grams.crossJoin(broadcast(total))
      .select(col("t1"), col("t2"), col("t3"), col("n"),
        expr("1000000 * n div total").as("share_ppm"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }
}
