package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.Exact.{ln4Sql, signedDivSql}

/** Classical statistics as exact-arithmetic Spark plans — the
  * hypothesis-test/correlation readouts an experimentation or data-QA
  * pipeline runs over its fact tables. Every operator follows the
  * engine's exactness discipline (no float aggregation anywhere):
  * inputs are milli/cent-quantized to integers, test statistics are
  * reduced to RATIONAL forms whose numerator/denominator are exact
  * integer aggregates, and any transcendental (ln for a significance
  * readout) runs the quantized-ln ladder `floor(ln(x)·10⁴ + 0.5)` on
  * a single integer argument — identical on both engines — so the
  * DuckDB oracle pins every row bit-for-bit.
  *
  * Reference scope: the reference engine (a word-count MapReduce,
  * coordinator.py:1-234) has no statistics surface; these generalize
  * its per-key SUM reduce (worker.py exposed_reduce) to the moment/
  * rank aggregates the same shuffle shape supports. */
object Stats {

  private val Dec = DecimalType(38, 0)

  /** Two-sample test population labels and ACF lags — the ONE source
    * for both the plans and the DuckDB oracles (the
    * Search.MmrLambdaPermille shared-literal rule: registering a
    * query with non-default arguments must not silently diverge plan
    * from oracle). */
  val AbGroupA = "view"
  val AbGroupB = "purchase"
  val AutocorrLags: Seq[Int] = Seq(1, 2, 7)

  /** SPEARMAN RANK CORRELATION of (quantity, extendedprice) per
    * return flag — the monotone-association readout (robust to the
    * price tail where Pearson is not). Average ranks for ties, kept
    * integer as DOUBLE-RANKS: for a tie run of size c whose strictly-
    * smaller values total F rows, the average rank is F + (c+1)/2, so
    * twice it is the integer 2F + c + 1. With ρ = (nΣab − ΣaΣb) /
    * √((nΣa² − (Σa)²)(nΣb² − (Σb)²)) over double-ranks a, b (the ×2
    * cancels), the SIGN of the numerator is exact and ln ρ² is a
    * ±sum of integer lns → emitted as sign + ln_rho2_micro (the
    * ab_conversion_ztest ladder; ρ = ±exp(ln_rho2_micro/2·10⁻⁶)).
    * NULL ladder when degenerate (constant column or zero numerator).
    *
    * NO per-row rank anywhere (r13 verdict item 1): both variables
    * live on DOMAIN-BOUNDED grids — quantity is ≤ 50 integer values
    * and cents is bounded by the PRICE DOMAIN (2-decimal prices in
    * [1000, 105000] → ≤ 1.04×10⁷ cent cells, fixed regardless of
    * corpus size) — so the corpus partial-aggregates ONCE to the
    * joint (flag, q, cents) cell table (≤ |q|·|cents| cells forever),
    * the per-cell double-ranks 2F + c + 1 come from RANGE-frame
    * windows DIRECTLY over that joint table (the [[mannWhitney]]
    * running-rank idea, folded in-place — see Scale shape below), and
    * every moment is a cell-weighted sum over the joint table:
    * Σa = Σ c·a, Σa² = Σ c·a², Σab = Σ c·a·b. This also removes the
    * old 2³¹-rows-per-group
    * rank()-width ceiling — no row window means no IntegerType rank.
    *
    * Exactness bounds: double-ranks ≤ 2n, per-cell terms ride
    * DECIMAL(38,0) from the first multiply (c·a² ≤ 4n³ — INT64 would
    * clip at n ≈ 1.3×10⁶), as do the n·Σ − Σ·Σ cross terms (≈ 4n⁴ <
    * 10³⁸ to n ≈ 10⁹).
    *
    * Scale shape: one corpus pass → joint cell table → the ranks are
    * TWO RANGE-frame windows directly over that table (PARTITIONED by
    * flag; F = mass strictly below the cell's value, the tie total a
    * plain per-value partition — no marginal tables, no join-backs:
    * the first cut built marginals and equi-joined them back, which
    * the new both-axis bench gate flagged at 16.6× the old plan's
    * CPU (the gate's calibration-normalized ratio; 12.6/0.60 = 21×
    * raw) at sf0.1, where cents cells ≈ corpus rows) — PlanShapeSpec
    * asserts every Window here sits above an Aggregate; one per-flag
    * aggregate ends it. At 100 TB the windows sort ≤ |cents domain|
    * cells per flag regardless of corpus size. */
  def spearmanQuantityPrice(li: DataFrame): DataFrame = {
    val joint = li
      .select(col("l_returnflag").as("flag"),
        round(col("l_quantity")).cast("long").as("q"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .groupBy("flag", "q", "cents").agg(count(lit(1)).as("c"))
    // per-cell double-rank 2F + cc + 1 on the joint table itself:
    // F = total count over strictly-smaller values (RANGE frame — row
    // frames would miscount across same-value joint cells), cc = the
    // value's tie total (per-value partition)
    def dr(v: String): Column = {
      val wF = Window.partitionBy(col("flag")).orderBy(col(v))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wT = Window.partitionBy(col("flag"), col(v))
      coalesce(sum(col("c")).over(wF), lit(0L)) * 2 +
        sum(col("c")).over(wT) + 1
    }
    joint
      .withColumn("a", dr("q"))
      .withColumn("b", dr("cents"))
      .groupBy("flag")
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(Dec) * col("a")).as("sa"),
        sum(col("c").cast(Dec) * col("b")).as("sb"),
        sum(col("c").cast(Dec) * col("a") * col("a")).as("saa"),
        sum(col("c").cast(Dec) * col("b") * col("b")).as("sbb"),
        sum(col("c").cast(Dec) * col("a") * col("b")).as("sab"))
      .select(col("flag"), col("n"),
        expr("n * sab - sa * sb").as("num"),
        expr("n * saa - sa * sa").as("dx"),
        expr("n * sbb - sb * sb").as("dy"))
      .select(col("flag"), col("n"),
        expr("CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END" +
          " AS BIGINT)").as("rho_sign"),
        expr("CASE WHEN num <> 0 AND dx > 0 AND dy > 0 THEN " +
          s"100 * (2 * ${ln4Sql("abs(num)")} - ${ln4Sql("dx")} - ${ln4Sql("dy")})" +
          " END").as("ln_rho2_micro"))
      .orderBy("flag")
  }

  /** χ² INDEPENDENCE TEST of lang × source — the significance twin of
    * [[TextAnalysis.langSourceMi]]: where MI measures the SIZE of the
    * dependence in nats, χ² = N·(Σ c_xy²/(c_x·c_y) − 1) measures its
    * evidence against independence (≈ dof under the null). χ² is
    * RATIONAL, so no ladder is needed: each cell contributes the
    * exact floor-div term 1000·N·c² div (c_x·c_y) in milli units and
    * the term-wise floors are the deterministic quantization (both
    * engines floor the same non-negative integers). Output one row:
    * (n_docs, n_langs, n_sources, dof, chi2_milli).
    *
    * INT64/DECIMAL bounds: c_x·c_y < N² (INT64 to N ≈ 3×10⁹); the
    * 1000·N·c² numerator rides DECIMAL(38,0) (would pass 2⁶³ at
    * N ≈ 2×10⁶ docs in one cell).
    *
    * Scale shape: identical to langSourceMi — one corpus pass
    * partial-aggregates to the domain-bounded (lang, source) cell
    * table, marginals are windows over that bounded table, the report
    * is a one-row aggregate. */
  def chi2LangSource(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
    cells
      .withColumn("cl", sum(col("c")).over(Window.partitionBy(col("lang"))))
      .withColumn("cs", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("nn", sum(col("c")).over(Window.partitionBy()))
      .agg(
        max(col("nn")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(expr("(1000 * CAST(nn AS DECIMAL(38,0)) * c * c) div (cl * cs)"))
          .as("s"))
      .select(col("n_docs"), col("n_langs"), col("n_sources"),
        ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"),
        expr("CAST(s - 1000 * n_docs AS BIGINT)").as("chi2_milli"))
  }

  /** WELCH'S UNEQUAL-VARIANCE t-TEST of event `value` between the
    * view and purchase populations — the continuous-metric experiment
    * readout beside [[Temporal.abConversionZtest]]'s proportion test.
    * Values milli-quantize; with S = Σv, Q = Σv² per group, the
    * t² statistic is rational:
    *   t² = (S₁n₂ − S₂n₁)²·(n₁−1)(n₂−1) / den,
    *   den = n₂²(n₁Q₁ − S₁²)(n₂−1) + n₁²(n₂Q₂ − S₂²)(n₁−1),
    * so sign(mean diff) is exact and ln t² rides the ladder. Means
    * are reported as exact SIGN-SPLIT milli floor-divs
    * (sign·(|S| div n) — Spark's `div` truncates toward zero while
    * DuckDB's `//` floors, so a negative sum would diverge without
    * the split; advisor r13 made the repo rule unconditional here
    * rather than lean on the generator's non-negative value domain).
    * NULL ladder when degenerate (a group empty/singleton, zero
    * pooled variance, or equal scaled means).
    *
    * DECIMAL bounds (documented per the revenue_gini rule): A = S·n ≈
    * n²·v̄ and den ≈ n₂³·n₁·Q₁ ≈ n⁴·v̄² — den < 10³⁸ holds to n ≈ 3×10⁷
    * rows per group at the events value scale (v ≤ 10⁵ milli); beyond
    * that, pre-aggregate per user first (the same rollup a 100 TB
    * pipeline already does to de-autocorrelate its units).
    *
    * Scale shape: ONE corpus pass partial-aggregates both groups'
    * (n, S, Q) moment triples — a 2-row shuffle — then a 1-row
    * report. No window, no join. */
  def welchTtest(events: DataFrame,
      typeA: String = AbGroupA, typeB: String = AbGroupB): DataFrame = {
    events
      .filter(col("event_type").isin(typeA, typeB))
      .select(when(col("event_type") === typeA, 0L).otherwise(1L).as("g"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(Dec)).as("s"),
        sum((col("v") * col("v")).cast(Dec)).as("q"))
      .agg(
        sum(when(col("g") === 0, col("n"))).as("n1"),
        sum(when(col("g") === 0, col("s"))).as("s1"),
        sum(when(col("g") === 0, col("q"))).as("q1"),
        sum(when(col("g") === 1, col("n"))).as("n2"),
        sum(when(col("g") === 1, col("s"))).as("s2"),
        sum(when(col("g") === 1, col("q"))).as("q2"))
      .select(
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        expr("CAST(CASE WHEN n1 > 0 THEN CASE WHEN s1 < 0 " +
          "THEN -((-s1) div n1) ELSE s1 div n1 END END AS BIGINT)")
          .as("mean1_milli"),
        expr("CAST(CASE WHEN n2 > 0 THEN CASE WHEN s2 < 0 " +
          "THEN -((-s2) div n2) ELSE s2 div n2 END END AS BIGINT)")
          .as("mean2_milli"),
        expr("CAST(CASE WHEN s2 * n1 > s1 * n2 THEN 1 " +
          "WHEN s2 * n1 < s1 * n2 THEN -1 ELSE 0 END AS BIGINT)")
          .as("diff_sign"),
        expr("CASE WHEN n1 > 1 AND n2 > 1 AND s1 * n2 <> s2 * n1 AND " +
          "n2 * n2 * (n1 * q1 - s1 * s1) * (n2 - 1) + " +
          "n1 * n1 * (n2 * q2 - s2 * s2) * (n1 - 1) > 0 THEN " +
          s"100 * (2 * ${ln4Sql("abs(s1 * n2 - s2 * n1)")}" +
          s" + ${ln4Sql("(n1 - 1) * (n2 - 1)")}" +
          s" - ${ln4Sql("n2 * n2 * (n1 * q1 - s1 * s1) * (n2 - 1) + " +
            "n1 * n1 * (n2 * q2 - s2 * s2) * (n1 - 1)")})" +
          " END").as("ln_t2_micro"))
  }

  /** MANN–WHITNEY U TEST of event `value` between the view and
    * purchase populations — the rank-based (distribution-free) twin
    * of [[welchTtest]]: U detects stochastic dominance without any
    * normality assumption, the standard A/B readout for skewed
    * metrics. 2U₁ = 2R₁ − 2·n₁(n₁+1)/2 is an EXACT INTEGER under
    * average-rank ties (double-ranks again) and is emitted directly
    * (`u1_x2`); the normal-approximation significance uses the
    * tie-corrected variance, rational throughout:
    *   z² = (2U₁ − n₁n₂)²·3·N(N−1) / (4·... ) reduced to the ladder
    *   ln z² = 2·ln|2U₁ − n₁n₂| + ln 3 + ln(N(N−1))
    *           − ln(n₁n₂) − ln(N³ − N − ΣT),  T = Σ(t³ − t) per tie.
    * NULL ladder when degenerate (z = 0 or all values tied).
    *
    * The rank pass is NOT a corpus window: values milli-quantize into
    * a DOMAIN-BOUNDED grid (event value ∈ [0, Tables.MaxEventValue]
    * — the generator's clamp, 599.0 → ≤ 599,001 milli cells; the
    * bound derives from that ONE shared constant and is ENFORCED by
    * an assert_true guard on the quantized values, so out-of-contract
    * data fails loudly instead of silently growing the global-window
    * table — advisor r13 + verdict item 6), the corpus
    * partial-aggregates to per-cell (total, group-1) counts, and the
    * running-rank cumulative runs over that bounded cell table (the
    * value_histogram/benford bounded-global-window class — guard
    * comment here, allowlisted in PlanShapeSpec). Per-cell average
    * double-rank for a run of c at cumulative offset F is 2F + c + 1,
    * so R₁ doubles to Σ c₁·(2F + c + 1). INT64 bounds: R₁·2 ≤ 2n₁N
    * (INT64 past N = 10⁹); N³ rides DECIMAL(38,0) (passes 2⁶³ at
    * N ≈ 2×10⁶).
    *
    * Scale shape: one corpus pass → ≤ 10⁵-row cell table → bounded
    * window → one-row report. */
  def mannWhitney(events: DataFrame,
      typeA: String = AbGroupA, typeB: String = AbGroupB): DataFrame = {
    // value-domain guard: the bounded-window argument is a CONTRACT
    // with the data model (events.value ∈ [0, Tables.MaxEventValue]);
    // violate it and this fails the query instead of silently sorting
    // an unbounded cell table in one task. assert_true returns NULL on
    // pass → coalesce keeps the filter a tautology; Catalyst may push
    // it below the aggregate (a per-row compare — negligible either
    // side of the shuffle).
    val maxMilli = math.round(graft.Tables.MaxEventValue * 1000)
    val cells = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("v"),
        when(col("event_type") === typeA, 1L).otherwise(0L).as("is1"))
      .filter(coalesce(assert_true(col("v").between(0L, maxMilli),
        lit(s"mannWhitney: events.value outside [0, " +
          s"${graft.Tables.MaxEventValue}] breaks the bounded " +
          "cell-table contract (Tables.MaxEventValue)")), lit(true)))
      .groupBy("v")
      .agg(count(lit(1)).as("c"), sum(col("is1")).as("c1"))
    // bounded global window: runs over the <= 599,001-row milli-value
    // cell table (Tables.MaxEventValue * 1000 + 1), never the corpus
    // (PlanShapeSpec-allowlisted)
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("f", coalesce(sum(col("c")).over(w), lit(0L)))
      .agg(
        sum(col("c1")).as("n1"), sum(col("c") - col("c1")).as("n2"),
        sum(col("c")).as("nn"),
        sum(col("c1") * (col("f") * 2 + col("c") + 1)).as("r1d"),
        sum(((col("c") * col("c") * col("c")) - col("c")).cast(Dec)).as("t3"))
      .select(col("n1"), col("n2"),
        (col("r1d") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        col("nn"), col("t3"))
      .select(col("n1"), col("n2"), col("u1_x2"),
        expr("CAST(CASE WHEN u1_x2 > n1 * n2 THEN 1 " +
          "WHEN u1_x2 < n1 * n2 THEN -1 ELSE 0 END AS BIGINT)")
          .as("z_sign"),
        expr("CASE WHEN n1 > 0 AND n2 > 0 AND u1_x2 <> n1 * n2 AND " +
          "CAST(nn AS DECIMAL(38,0)) * nn * nn - nn - t3 > 0 THEN " +
          s"100 * (2 * ${ln4Sql("abs(u1_x2 - n1 * n2)")} + ${ln4Sql("3")}" +
          s" + ${ln4Sql("nn * (nn - 1)")} - ${ln4Sql("n1 * n2")}" +
          s" - ${ln4Sql("CAST(nn AS DECIMAL(38,0)) * nn * nn - nn - t3")})" +
          " END").as("ln_z2_micro"))
  }

  /** LAG-k AUTOCORRELATION of the daily event-count series — the
    * seasonality/memory readout of an ingestion monitor (lag-7 spikes
    * = weekly cycle; lag-1 near 1 = trending volume; all ≈ 0 =
    * stationary noise). The ACF is RATIONAL after clearing the mean:
    * with S = Σx, n = #days, r_k = Σ(n·x_t − S)(n·x_{t+k} − S) /
    * Σ(n·x_t − S)² over INDEX-aligned pairs (t from a dense
    * row-number over observed days, so a calendar gap shifts indices
    * identically on both engines), emitted as the exact signed
    * permille sign·(1000·|num| div den) — floor-div on non-negative
    * magnitudes only, the sign-split rule. DECIMAL(38,0) everywhere a
    * product of two (n·x − S) terms rides (at 10¹⁰ events/day ×
    * 365 days the cross term reaches ~10²⁵).
    *
    * Scale shape: one corpus pass partial-aggregates to the
    * CALENDAR-BOUNDED daily table (≤ n_days rows forever); the index
    * window, the k-shift self-joins, and the final aggregates all run
    * over that bounded table (guard: the global window is over days,
    * never events — PlanShapeSpec-allowlisted). */
  def autocorrDaily(events: DataFrame,
      lags: Seq[Int] = AutocorrLags): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    // bounded global windows: <= n_days rows (calendar-bounded).
    // STAGED: the deviation table feeds den plus both sides of every
    // lag self-join (2|lags|+1 consumers) — unstaged, each would
    // re-run the corpus daily aggregate as its own job (the ks_drift
    // staging rule)
    val t = Materialize.stage(daily
      .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .withColumn("s", sum(col("x")).over(Window.partitionBy()))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .select(col("t"), (col("n") * col("x") - col("s")).cast(Dec).as("d"),
        col("n")))
    val den = t.agg(sum(expr("d * d")).as("den"),
      max(col("n")).as("n_days"))
    lags.map { k =>
      t.as("a")
        .join(t.as("b"), col("b.t") === col("a.t") + k)
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("a.d * b.d")).as("num"))
        .select(lit(k.toLong).as("lag"), col("n_pairs"), col("num"))
    }.reduce(_ unionAll _)
      .crossJoin(den)
      .select(col("lag"), col("n_days"), col("n_pairs"),
        expr("CAST(CASE WHEN den > 0 AND n_pairs > 0 THEN " +
          signedDivSql("num", "den", 1000) + " END AS BIGINT)").as("r_permille"))
      .orderBy("lag")
  }

  /** PER-NATION OLS REVENUE TREND — the monthly-slope readout of a
    * revenue dashboard: least-squares slope of (month index, monthly
    * cents) per nation, exact in micro-cents-per-month. x is the
    * ABSOLUTE month index year·12 + month (slope is shift-invariant,
    * so no per-nation min pass), y the exact cent sum; slope =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) emitted as the signed floor-div
    * micro value (sign-split). NULL when a nation has < 2 months.
    * DECIMAL(38,0) sums (n·Σxy ≈ n²·x·ȳ passes 2⁶³ around 10¹⁴ cents
    * of monthly revenue).
    *
    * Scale shape: one shuffle on the order FK to attach nations
    * (customer side broadcast-joined to the 25-row nation table), one
    * partial-aggregated (nation, month) rollup — bounded by
    * |nations|×|months| — then per-nation 5-moment aggregates over
    * that bounded table. */
  def olsTrendNation(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = {
    val monthly = graft.Tables.orders(s, d)
      .join(graft.Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(graft.Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        "c_nationkey")
      .groupBy(col("n_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("x"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
    monthly.groupBy("n_name")
      .agg(count(lit(1)).as("n_months"),
        sum(col("y")).as("total_cents"),
        sum(col("x").cast(Dec)).as("sx"), sum(col("y").cast(Dec)).as("sy"),
        sum((col("x") * col("x")).cast(Dec)).as("sxx"),
        sum((col("x").cast(Dec) * col("y"))).as("sxy"))
      .select(col("n_name"), col("n_months"), col("total_cents"),
        expr("n_months * sxy - sx * sy").as("num"),
        expr("n_months * sxx - sx * sx").as("den"))
      .select(col("n_name"), col("n_months"), col("total_cents"),
        expr("CAST(CASE WHEN den > 0 THEN " +
          signedDivSql("num", "den") + " END AS BIGINT)")
          .as("slope_microcents_per_month"))
      .orderBy("n_name")
  }

  /** CUSUM LEVEL-SHIFT SCAN over the daily event-count series — the
    * changepoint detector of an ingestion monitor: S_t = Σ_{i≤t}
    * (x_i − x̄) peaks at the most likely mean-shift point. n·S_t =
    * n·cum_t − t·S is INTEGER, so the argmax day and the peak are
    * exact; ties break to the EARLIEST day (the canonical changepoint
    * convention). One row: (n_days, total, peak day, signed peak
    * n·S_t, peak as permille of n·total).
    *
    * Scale shape: corpus → calendar-bounded daily table; the running
    * cumulative and the top-1 sort run over that bounded table
    * (PlanShapeSpec-allowlisted global window). */
  def cusumDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    // bounded global windows over the <= n_days daily table
    val t = daily
      .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .withColumn("cum", sum(col("x"))
        .over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("s", sum(col("x")).over(Window.partitionBy()))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .select(col("day"), col("t"), col("n"), col("s"),
        (col("n").cast(Dec) * col("cum") - col("t").cast(Dec) * col("s"))
          .as("ns"))
    t.orderBy(abs(col("ns")).desc, col("day").asc).limit(1)
      .select(col("n").as("n_days"), col("s").as("total_events"),
        col("day").as("peak_day"),
        expr("CAST(ns AS BIGINT)").as("peak_cusum_n"),
        expr("CAST(CASE WHEN s > 0 THEN " +
          signedDivSql("ns", "n * CAST(s AS DECIMAL(38,0))", 1000) + " END" +
          " AS BIGINT)").as("peak_permille"))
  }

  /** KENDALL τ-b of (quantity, discount) — the concordance twin of
    * [[spearmanQuantityPrice]], computed WITHOUT any per-row rank:
    * both variables live on BOUNDED domains (≤ 50 quantities × ≤ 11
    * discount steps), so the corpus partial-aggregates to a ≤ 550-row
    * cell table and ALL pair counting happens on cell-pair products:
    * C = Σ n_ij·n_i'j' over strictly-concordant cell pairs, D over
    * strictly-discordant ones, tie terms from the marginals. τ-b =
    * (C−D)/√((n₀−n₁)(n₀−n₂)) → sign exact, ln τ² on the quantized-ln
    * ladder. This is the EXACT path that scales where the rank-window
    * Spearman is dimension-bound: no global order anywhere, pair
    * counts are integer products of cell counts.
    *
    * DECIMAL(38,0) everywhere a product of two counts rides (C ≈ n²/2
    * passes 2⁶³ at n ≈ 4×10⁹; n₀ = n(n−1)/2 likewise).
    *
    * Scale shape: one corpus pass → bounded cell table (staged: feeds
    * marginals and both self-join sides) → ≤ 550²-row cell-pair join →
    * one-row report. */
  def kendallTauQuantityDiscount(li: DataFrame): DataFrame = {
    val cells = Materialize.stage(li
      .select(round(col("l_quantity")).cast("long").as("q"),
        round(col("l_discount") * 100).cast("long").as("disc"))
      .groupBy("q", "disc").agg(count(lit(1)).as("c")))
    val conc = cells.as("a").join(cells.as("b"),
        col("a.q") < col("b.q") && col("a.disc") < col("b.disc"))
      .agg(sum((col("a.c").cast(Dec) * col("b.c"))).as("nc"))
    val disco = cells.as("a").join(cells.as("b"),
        col("a.q") < col("b.q") && col("a.disc") > col("b.disc"))
      .agg(sum((col("a.c").cast(Dec) * col("b.c"))).as("nd"))
    // published pair counts are BIGINT: they hold to n ≈ 4×10⁹ rows
    // (C ≈ n²/2 vs 2⁶³); the τ ladder itself stays DECIMAL-exact
    val marg = cells.agg(
      sum(col("c")).as("n"),
      count(lit(1)).as("n_cells"))
    val tx = cells.groupBy("q").agg(sum(col("c")).as("r"))
      .agg(sum((col("r").cast(Dec) * (col("r") - 1))).as("tx2"))
    val ty = cells.groupBy("disc").agg(sum(col("c")).as("s"))
      .agg(sum((col("s").cast(Dec) * (col("s") - 1))).as("ty2"))
    marg.crossJoin(conc).crossJoin(disco).crossJoin(tx).crossJoin(ty)
      .select(col("n"), col("n_cells"),
        // a degenerate corpus (all one value) leaves the concordant/
        // discordant joins EMPTY → NULL sums, which are zero pairs
        expr("CAST(coalesce(nc, 0) AS DECIMAL(38,0))").as("n_conc"),
        expr("CAST(coalesce(nd, 0) AS DECIMAL(38,0))").as("n_disc"),
        expr("CAST(n AS DECIMAL(38,0)) * (n - 1) div 2").as("n0"),
        expr("tx2 div 2").as("n1"), expr("ty2 div 2").as("n2"))
      .select(col("n"), col("n_cells"),
        col("n_conc").cast("long").as("n_conc"),
        col("n_disc").cast("long").as("n_disc"),
        expr("CAST(CASE WHEN n_conc > n_disc THEN 1 " +
          "WHEN n_conc < n_disc THEN -1 ELSE 0 END AS BIGINT)")
          .as("tau_sign"),
        expr("CASE WHEN n_conc <> n_disc AND n0 > n1 AND n0 > n2 THEN " +
          s"100 * (2 * ${ln4Sql("abs(n_conc - n_disc)")}" +
          s" - ${ln4Sql("n0 - n1")} - ${ln4Sql("n0 - n2")}) END")
          .as("ln_tau2_micro"))
  }

  /** DECISION-STUMP SPLIT SCAN — weighted Gini impurity of every
    * candidate split "quantity ≤ s" for predicting the return flag:
    * the feature-diagnostic a training pipeline runs to rank raw
    * columns (a split whose score ≈ the class-prior impurity carries
    * no signal; a high-score split is a leakage/correlation alarm).
    * Publishing the WHOLE split curve (≤ 49 rows) rather than the
    * argmax hash-pins every candidate. The score maximized is
    * n·(1 − WG(s)) in exact micro units:
    *   score_micro(s) = (10⁶·Σ_f cumL_f²) div n_L
    *                  + (10⁶·Σ_f cumR_f²) div n_R
    * — two non-negative floor-divs (deterministic quantization, the
    * chi2 term-wise contract); a pure split scores 10⁶·n.
    *
    * Scale shape: one corpus pass partial-aggregates to the
    * DOMAIN-BOUNDED (quantity, flag) cell grid (≤ 50·|flags| cells
    * forever); the grid is DENSIFIED by a bounded cross-join (every
    * flag needs a cumulative at every split point), the per-flag
    * cumulatives are windows over that bounded grid, and the split
    * table is a ≤ |quantity|-row aggregate. DECIMAL(38,0) for the
    * cum² sums (≤ n², INT64 clips at n ≈ 3×10⁹). */
  def giniSplitQuantity(li: DataFrame): DataFrame = {
    // STAGED: the cell aggregate feeds THREE subtrees (q-distinct,
    // flag-distinct, the densify join); unstaged, each runs the
    // corpus scan+aggregate as its own job (the ksDrift staging rule,
    // Pipeline.scala — same bin-count/densify shape)
    val cells = Materialize.stage(li
      .select(round(col("l_quantity")).cast("long").as("q"),
        col("l_returnflag").as("flag"))
      .groupBy("q", "flag").agg(count(lit(1)).as("c")))
    // bounded densify: |q-domain| × |flags| (both data-model
    // constants; the flag side broadcast by construction — a bare
    // crossJoin of two distincts would plan a CartesianProduct)
    val dense = cells.select(col("q")).distinct()
      .crossJoin(broadcast(cells.select(col("flag")).distinct()))
      .join(cells, Seq("q", "flag"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wCum = Window.partitionBy(col("flag")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .withColumn("cl", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("flag"))))
      .groupBy(col("q").as("split_q"))
      .agg(sum(col("cl")).as("n_left"),
        sum(col("cl").cast(Dec) * col("cl")).as("sl2"),
        sum(col("tot") - col("cl")).as("n_right"),
        sum((col("tot") - col("cl")).cast(Dec) * (col("tot") - col("cl")))
          .as("sr2"))
      .filter(col("n_right") > 0 && col("n_left") > 0)
      .select(col("split_q"), col("n_left"), col("n_right"),
        expr("CAST((1000000 * sl2) div n_left + (1000000 * sr2) div n_right" +
          " AS BIGINT)").as("score_micro"))
      .orderBy("split_q")
  }

  /** PAGE–HINKLEY UPWARD-SHIFT SCAN over the daily count series — the
    * one-sided sequential twin of [[cusumDaily]]: PH_t = (n·S_t) −
    * min_{t'≤t}(n·S_t'), the gap between the mean-cleared cumulative
    * and its running minimum; a mean INCREASE makes PH climb from the
    * shift onset (the running-min day) while [[cusumDaily]]'s |S_t|
    * peak finds the single most likely changepoint of either sign.
    * All integer (the cusum n-scaling), argmax ties to the earliest
    * day. One row: (n_days, total, onset/alarm days, peak PH in
    * n-scaled units, permille of n·total).
    *
    * Scale shape: corpus → calendar-bounded daily table; the
    * cumulative, running-min, and top-1 run over that bounded table
    * (allowlisted). */
  def pageHinkleyDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    // bounded global windows over the <= n_days daily table
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = daily
      .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .withColumn("cum", sum(col("x")).over(wCum))
      .withColumn("s", sum(col("x")).over(Window.partitionBy()))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("ns",
        col("n").cast(Dec) * col("cum") - col("t").cast(Dec) * col("s"))
      .withColumn("runmin", min(col("ns")).over(wCum))
      .withColumn("ph", col("ns") - col("runmin"))
    t.orderBy(col("ph").desc, col("day").asc).limit(1)
      .select(col("n").as("n_days"), col("s").as("total_events"),
        col("day").as("alarm_day"),
        expr("CAST(ph AS BIGINT)").as("ph_peak_n"),
        expr("CAST(CASE WHEN s > 0 THEN (1000 * ph) div " +
          "(n * CAST(s AS DECIMAL(38,0))) END AS BIGINT)")
          .as("ph_peak_permille"))
  }

  /** INTER-ARRIVAL BURSTINESS — per-user event-gap dispersion, the
    * arrival-process health check (CV² = var/mean² of gaps: 1000‰ for
    * a Poisson process, ≫ 1000 for bursty sessions, ≪ 1000 for
    * metronomic bots). Gaps are whole SECONDS (floor of the millis
    * delta — keeps g² inside INT64 to 292-year gaps) over each user's
    * (ts, event_id)-ordered stream; with S = Σg, Q = Σg²,
    * CV²_milli = 1000·n·(nQ − S²) div ((n−1)·S²) — exact sample-
    * variance cross-multiplication, DECIMAL(38,0) sums. One row:
    * (n_gaps, mean_gap_sec, cv2_milli).
    *
    * Scale shape: the lag window is PARTITIONED by user (the
    * sessionize class — scales with the per-user stream, never
    * global); the moments partial-aggregate to one row. */
  def interarrivalBurstiness(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"),
        (unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)))
          .as("gms"))
      .filter(col("gms").isNotNull)
      .select(expr("gms div 1000").as("g"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g").cast(Dec)).as("s"),
        sum((col("g") * col("g")).cast(Dec)).as("q"))
      .select(col("n_gaps"),
        expr("CAST(CASE WHEN n_gaps > 0 THEN s div n_gaps END AS BIGINT)")
          .as("mean_gap_sec"),
        expr("CAST(CASE WHEN n_gaps > 1 AND s > 0 THEN " +
          "(1000 * n_gaps * (n_gaps * q - s * s)) div ((n_gaps - 1) * s * s)" +
          " END AS BIGINT)").as("cv2_milli"))
  }
}
