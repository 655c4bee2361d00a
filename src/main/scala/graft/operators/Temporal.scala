package graft.operators

import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal / streaming-shaped operators over the events table, in batch
  * form so they are DuckDB-oracle-checkable. The same transformations run
  * under Structured Streaming (see graft.streaming.EventsStream — the
  * windowed aggregate is literally the same function applied to a
  * readStream source with a watermark).
  *
  * Scale design: tumbling/sliding windows are groupBy on (bucket, type) —
  * one shuffle with partial aggregation; sessionization is a window
  * function over (user_id, ts), i.e. one shuffle on user_id with
  * in-partition sort — the standard gap-session formulation that scales
  * linearly and never materializes per-user state on the driver.
  */
object Temporal {

  /** Tumbling 1-hour windows per event type (window() generator keeps
    * streaming parity; start timestamp is the group key). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sumD(col("value")).as("sum_value"),
        avgD(col("value")).as("avg_value"))
      .select(col("w.start").as("ws"), col("event_type"),
        col("n_events"), col("sum_value"), col("avg_value"))
      .orderBy("ws", "event_type")

  /** Sliding windows: 1 hour long, every 30 minutes (each event lands in
    * two windows). */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sumD(col("value")).as("sum_value"))
      .select(col("w.start").as("ws"), col("n_events"), col("sum_value"))
      .orderBy("ws")

  /** Gap-based sessionization (30-minute inactivity gap): classic
    * lag → new-session flag → cumulative-sum session id → per-session agg. */
  /** EVENT-TRANSITION MINING: the per-user first-order Markov table
    * (from_type → to_type counts + transition probability) behind
    * next-action models and funnel diagnostics. One shuffle on user_id
    * serves the lag window; the transition aggregate partial-combines;
    * probabilities are exact integer ratios rounded at the edge.
    * Tie-stable ordering: (ts, event_id) is a total order per user. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    trans.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  def sessionize(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val flagged = events.select(col("user_id"), col("ts"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sumD(col("value")).as("sum_value"))
      .withColumn("duration_ms",
        unix_millis(col("session_end")) - unix_millis(col("session_start")))
      .orderBy("user_id", "session_id")
  }

  /** INTERVAL COALESCING (activity coverage): each event opens a
    * fixed-span activity window [ts, ts + 10 min); overlapping or
    * touching windows per user merge into maximal intervals — the
    * classic interval-union operator behind uptime/coverage/billing
    * reports, distinct from gap-sessionization (sessions chain on
    * inter-event GAPS; coverage unions fixed SPANS, so a burst of
    * events extends coverage by at most span, not by count). The merge
    * is the one-pass cumulative-max idiom: an interval starts exactly
    * where start > max(end) over all PRECEDING rows (ordered by ts,
    * event_id within the user partition — every window is partitioned,
    * one user_id shuffle serves all three steps, the per-user rollup
    * partial-aggregates). Micro-unit epoch integers end to end: both
    * engines compute identical BIGINTs, no timestamp flooring anywhere.
    * Touching intervals (s == prev max e) MERGE — the half-open
    * convention [s, e) makes adjacency continuous coverage. */
  def activityIntervals(events: DataFrame,
      spanUs: Long = 10L * 60 * 1000 * 1000): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val iv = events
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + spanUs)
      .withColumn("pme",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pme").isNull || col("s") > col("pme"), 1L).otherwise(0L))
      .withColumn("iv",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    iv.groupBy(col("user_id"), col("iv"))
      .agg(min(col("s")).as("ivs"), max(col("e")).as("ive"),
        count(lit(1)).as("nev"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("ive") - col("ivs")).as("covered_us"),
        max(col("ive") - col("ivs")).as("max_interval_us"),
        sum(col("nev")).as("n_events"))
      .orderBy("user_id")
  }

  /** Native session_window (30-minute gap): Spark's built-in gap-session
    * operator, batch form. A session spans [min ts, max ts + gap); the
    * gap is INCLUSIVE — an event exactly prev_ts + gap still merges
    * (spec-pinned), matching sessionize's lag/cumsum boundary rule. The same transform runs
    * under streaming with watermark-bounded state
    * (EventsStream.sessionWindows), which is the idiomatic 100 TB answer:
    * session state lives in the state store partitioned by user, evicted
    * by watermark, never on the driver. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sumD(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** Funnel: first signup per user, purchases strictly after it. */
  def funnel(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_signup"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    signups.join(purchases,
        col("user_id") === col("p_user") && col("p_ts") > col("first_signup"), "left")
      .groupBy(col("user_id"), col("first_signup"))
      .agg(count(col("p_ts")).as("n_purchases_after"))
      .withColumn("converted", (col("n_purchases_after") > 0).cast("boolean"))
      .orderBy("user_id")
  }

  /** As-of join: each purchase matched to the latest signup at-or-before
    * it for the same user. Expressed as the scalable union-window
    * formulation — one shuffle on user_id, one in-partition sort, no
    * pairwise join — rather than a range self-join (O(pairs)). */
  def asofSignupPurchase(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"),
        when(col("event_type") === "signup", col("ts")).as("sig_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.withColumn("last_signup", max(col("sig_ts")).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts").as("purchase_ts"),
        col("last_signup"),
        (unix_millis(col("ts")) - unix_millis(col("last_signup"))).as("ms_since_signup"))
      .orderBy("user_id", "event_id")
  }

  /** Pure RANGE join (no equi key), bucketed: each purchase matched to
    * ALL error events — any user's — within ±`windowMs`. The naive plan
    * is a nested-loop theta join (O(|P|·|E|), the classic scale killer
    * for proximity joins). Bucketing restores an equi key: both sides
    * bucket time by floor(ms / windowMs); the error side explodes to its
    * bucket ±1, so every true match shares a bucket copy (a pair within
    * windowMs is within 1 bucket) and each pair joins AT MOST ONCE (the
    * three exploded copies have distinct bucket ids). One shuffle on the
    * bucket id, precise |Δt| <= windowMs filter after the join — the
    * standard interval-bucketing rewrite that turns proximity search
    * into a hash join at a 3x fan-out cost on one side. */
  def purchasesNearErrors(events: DataFrame, windowMs: Long = 5L * 60 * 1000): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_millis(col("ts")).as("p_ms"))
      .withColumn("bucket", floor(col("p_ms") / lit(windowMs)))
    val errors = events.filter(col("event_type") === "error")
      .select(unix_millis(col("ts")).as("e_ms"))
      .withColumn("b0", floor(col("e_ms") / lit(windowMs)))
      .select(col("e_ms"),
        explode(array(col("b0") - 1, col("b0"), col("b0") + 1)).as("bucket"))
    purchases.join(errors,
        Seq("bucket"), "left")
      .withColumn("hit",
        when(abs(col("p_ms") - col("e_ms")) <= windowMs, col("e_ms")))
      .groupBy(col("event_id"))
      .agg(
        count(col("hit")).as("n_errors_nearby"),
        min(abs(col("p_ms") - col("hit"))).as("nearest_error_ms"))
      .orderBy("event_id")
  }

  /** JSON property extraction + bucketed aggregation. */
  def jsonProps(events: DataFrame): DataFrame =
    events
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("value"))
      .withColumn("k_bucket", pmod(col("k"), lit(10L)))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"), sumD(col("value")).as("sum_value"))
      .orderBy("k_bucket")

  /** VARIANT semi-structured path (Spark 4's open-format binary JSON —
    * the type Parquet shredding and the lakehouse formats standardize
    * on): props parsed ONCE to a variant value, fields then extracted
    * with variant_get path expressions — at 100 TB this is the
    * parse-once/extract-many shape (the binary encoding skips
    * re-tokenizing the JSON text per field, and shredded storage would
    * push the path reads down to column chunks). Aggregation mirrors the
    * string-JSON path so the two surfaces are cross-checkable; the
    * oracle reproduces it with DuckDB's JSON extraction. */
  def variantProps(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("cast(variant_get(parse_json(props), '$.k') as long)").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")

  /** Map-typed semi-structured path: props parsed to MapType with
    * from_json, exploded to key/value rows by the map generator, then
    * aggregated per key. (get_json_object covers single-key extraction —
    * jsonProps; this is the generic all-keys surface.) */
  def propsMapStats(events: DataFrame): DataFrame =
    events
      .select(explode(from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
        .as(Seq("key", "value")))
      .groupBy("key")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("value")).as("n_values"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("key")

  /** Daily × event-type pivot (counts; absent combinations = 0). */
  def dailyTypePivot(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy("day")
  }

  /** Inverse of [[dailyTypePivot]]: wide → long via the native unpivot
    * operator (Expand — one map stage, no shuffle beyond the pivot's
    * own aggregation). Zero-count combinations survive the round-trip,
    * so unpivot(pivot(x)) is the dense grid of x. */
  def dailyTypeUnpivot(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    dailyTypePivot(events)
      .unpivot(Array(col("day")), types.map(col).toArray, "event_type", "n_events")
      .orderBy("day", "event_type")
  }

  /** KAPLAN–MEIER SURVIVAL — the time-to-event operator the funnel
    * family lacks: the product-limit estimate of "how long from signup
    * to first purchase", with users who never purchase CENSORED at the
    * corpus horizon (dropping them would bias conversion fast — the
    * whole point of KM). Day-grain: duration = floor days from first
    * signup to first later purchase (event) or to the corpus max
    * timestamp (censored). Standard convention: same-day censorings
    * stay in the risk set for that day's deaths.
    *
    * Survival is emitted as the EXACT cumulative quantized-ln,
    * lnS_micro(t) = 100·Σ_{t'≤t, d>0}(ln4(n−d) − ln4(n)) — a product
    * of ratios is a sum of lns, and the 1e-4-quantized ladder is
    * engine-exact where Π(1 − d/n) in doubles is order-dependent
    * (S(t) = exp(lnS_micro/10⁶) for the reader). After an extinction
    * day (d = n, survival exactly 0) lnS is NULL.
    *
    * Scale shape: two filtered per-user aggregates (one shuffle each
    * on user_id, the scan's partition key), then everything collapses
    * to the per-DAY table — bounded by the calendar, not by users —
    * where the risk-set cumsum and lnS windows run (the
    * value_histogram bounded-aggregate class). The corpus-horizon
    * scalar is a one-row broadcast (the dedup_savings class). Output
    * rows: event days only (d > 0), the standard KM step points. */
  /** Shared signup→first-purchase survival DAY TABLE (t_day, d, c,
    * n_risk) feeding [[survivalKm]] and [[nelsonAalen]] — one
    * definition so the two estimators can never disagree on risk
    * sets. Day table is calendar-bounded: the unpartitioned windows
    * run over ≤ a-few-hundred rows by construction (allowlisted for
    * both consumers). */
  /** Per-user (signup ts, first at-or-after purchase ts) — the ONE
    * definition the survival estimators and [[conversionWindows]]
    * share. After-signup lives in the JOIN condition: a user whose
    * purchases all precede signup must survive the left join as a
    * NULL row (censored), not vanish through a post-join filter. */
  private def firstPurchaseAfterSignup(events: DataFrame): DataFrame = {
    val su = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    val pu = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    su.join(pu,
        col("p_user") === col("user_id") && col("p_ts") > col("s_ts"), "left")
      .groupBy(col("user_id"), col("s_ts"))
      .agg(min(col("p_ts")).as("fp_ts"))
  }

  private def survivalDayTable(events: DataFrame): DataFrame = {
    val horizon = events.agg(max(col("ts")).as("h_ts"))
    val firstP = firstPurchaseAfterSignup(events)
    val durations = firstP.crossJoin(broadcast(horizon))
      .select(
        // durations are nonnegative by the join condition, so integer
        // div IS the floor — no float division near a day boundary
        expr("CASE WHEN fp_ts IS NOT NULL THEN " +
          "(unix_micros(fp_ts) - unix_micros(s_ts)) div 86400000000 ELSE " +
          "(unix_micros(h_ts) - unix_micros(s_ts)) div 86400000000 END")
          .as("t_day"),
        col("fp_ts").isNotNull.as("is_event"))
    val byDay = durations.groupBy("t_day")
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("is_event"), 0L).otherwise(1L)).as("c"))
    val wAll = Window.partitionBy()
    val wPrev = Window.orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byDay
      .withColumn("n_risk", sum(col("d") + col("c")).over(wAll) -
        coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
  }

  def survivalKm(events: DataFrame): DataFrame = {
    val wCum = Window.orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalDayTable(events)
      .withColumn("term",
        when(col("d") > 0 && col("n_risk") > col("d"),
          ln4(col("n_risk") - col("d")) - ln4(col("n_risk")))
          .otherwise(lit(0L)))
      .withColumn("ext",
        max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(wCum))
      .withColumn("ln_s_micro",
        when(col("ext") > 0, lit(null).cast("long"))
          .otherwise(lit(100L) * sum(col("term")).over(wCum)))
      .filter(col("d") > 0)
      .select(col("t_day"), col("n_risk"), col("d").as("n_events"),
        col("c").as("n_censored"), col("ln_s_micro"))
      .orderBy("t_day")
  }

  /** NELSON–AALEN CUMULATIVE HAZARD — the estimator twin of
    * [[survivalKm]]: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over the SAME risk-set day
    * table ([[survivalDayTable]] — one definition, so KM and NA can
    * never disagree on who was at risk). Where KM needs the
    * quantized-ln ladder (a product of survival factors), the hazard
    * is a plain SUM of rationals, so each day's increment quantizes
    * term-wise to the exact integer 10⁶·d div n and the cumulative is
    * an exact BIGINT — no ladder, no transcendental anywhere. The
    * term-wise floor is the deterministic quantization (both engines
    * floor the same non-negative integers); the documented bias is
    * < #event-days micro-units, the same contract as the chi2_milli
    * term-wise floors. Output per event day: (t_day, n_risk,
    * n_events, n_censored, h_micro).
    *
    * Scale shape: identical to survivalKm — corpus passes reduce to
    * the calendar-bounded day table; the cumulative runs over ≤ a
    * few hundred rows (allowlisted). */
  def nelsonAalen(events: DataFrame): DataFrame = {
    val wCum = Window.orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalDayTable(events)
      .withColumn("inc",
        when(col("d") > 0 && col("n_risk") > 0,
          expr("(1000000 * d) div n_risk")).otherwise(lit(0L)))
      .withColumn("h_micro", sum(col("inc")).over(wCum))
      .filter(col("d") > 0)
      .select(col("t_day"), col("n_risk"), col("d").as("n_events"),
        col("c").as("n_censored"), col("h_micro"))
      .orderBy("t_day")
  }

  /** LOG-RANK TEST of time-to-first-purchase between the two A/B
    * variants (`user_id % 2` — the [[abConversionZtest]] assignment):
    * the time-to-event twin of that proportion test, and exactly the
    * score test of a Cox proportional-hazards model at β = 0 — the
    * honest answer to "Cox regression" for an engine that refuses
    * iterative float optimization in a hash-gated query. Per event
    * day i with nᵢ at risk (n₁ᵢ in variant 1) and dᵢ events (d₁ᵢ in
    * variant 1): O₁ = Σ d₁ᵢ is an exact BIGINT; the expectation and
    * hypergeometric variance are sums of rationals with day-varying
    * denominators, so each day's term quantizes to an exact micro
    * floor-div (the [[nelsonAalen]] term-wise contract — bias
    * < #event-days micro-units, documented):
    *   e1ᵢ = (10⁶·dᵢ·n₁ᵢ) div nᵢ
    *   vᵢ  = (10⁶·dᵢ·n₁ᵢ·(nᵢ−n₁ᵢ)·(nᵢ−dᵢ)) div (nᵢ²·(nᵢ−1)).
    * z² = (O₁−E₁)²/V rides the quantized-ln ladder:
    *   ln z² = 2·ln|10⁶·O₁ − e1_micro| − ln v_micro − ln 10⁶.
    * NULL ladder when degenerate (V = 0 or O₁ exactly on target).
    *
    * DECIMAL bounds: the vᵢ numerator is 10⁶·n⁴-scale → DECIMAL(38,0)
    * holds to cohorts of n ≈ 10⁸ signup users; past that, the same
    * per-user pre-aggregation contract as welchTtest applies.
    *
    * Scale shape: the cohort derivation is [[survivalKm]]'s (user-
    * dimension aggregates + one broadcast horizon row); per-variant
    * day counts partial-aggregate to the CALENDAR-BOUNDED day table;
    * the risk-set cumulatives are windows over that bounded table
    * (allowlisted, the survival_km class); one one-row report. */
  def logrankConversion(events: DataFrame): DataFrame = {
    val horizon = events.agg(max(col("ts")).as("h_ts"))
    val su = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    val pu = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val firstP = su.join(pu,
        col("p_user") === col("user_id") && col("p_ts") > col("s_ts"), "left")
      .groupBy(col("user_id"), col("s_ts"))
      .agg(min(col("p_ts")).as("fp_ts"))
    val durations = firstP.crossJoin(broadcast(horizon))
      .select((col("user_id") % 2).as("variant"),
        expr("CASE WHEN fp_ts IS NOT NULL THEN " +
          "(unix_micros(fp_ts) - unix_micros(s_ts)) div 86400000000 ELSE " +
          "(unix_micros(h_ts) - unix_micros(s_ts)) div 86400000000 END")
          .as("t_day"),
        col("fp_ts").isNotNull.as("is_event"))
    val byDay = durations.groupBy("t_day")
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("tot"),
        sum(when(col("is_event") && col("variant") === 1, 1L).otherwise(0L))
          .as("d1"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("tot1"))
    // bounded global windows over the calendar-bounded day table
    // (allowlisted): risk sets = total minus everyone who left earlier
    val wAll = Window.partitionBy()
    val wPrev = Window.orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byDay
      .withColumn("n", sum(col("tot")).over(wAll) -
        coalesce(sum(col("tot")).over(wPrev), lit(0L)))
      .withColumn("n1", sum(col("tot1")).over(wAll) -
        coalesce(sum(col("tot1")).over(wPrev), lit(0L)))
      .agg(
        sum(col("tot")).as("n_users"), sum(col("tot1")).as("n_users1"),
        sum(col("d1")).as("o1"),
        sum(expr("CASE WHEN d > 0 THEN " +
          "(1000000 * CAST(d AS DECIMAL(38,0)) * n1) div n ELSE 0 END"))
          .as("e1m"),
        sum(expr("CASE WHEN d > 0 AND n > 1 THEN " +
          "(1000000 * CAST(d AS DECIMAL(38,0)) * n1 * (n - n1) * (n - d))" +
          " div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) ELSE 0 END"))
          .as("vm"))
      .select(col("n_users"), col("n_users1"), col("o1"),
        expr("CAST(e1m AS BIGINT)").as("e1_micro"),
        expr("CAST(vm AS BIGINT)").as("v_micro"),
        expr("CAST(CASE WHEN 1000000 * o1 > e1m THEN 1 " +
          "WHEN 1000000 * o1 < e1m THEN -1 ELSE 0 END AS BIGINT)")
          .as("z_sign"),
        expr("CASE WHEN vm > 0 AND 1000000 * o1 <> e1m THEN " +
          s"100 * (2 * ${ln4Sql("abs(1000000 * o1 - e1m)")}" +
          s" - ${ln4Sql("vm")} - ${ln4Sql("1000000")}) END")
          .as("ln_z2_micro"))
  }

  /** COHORT RETENTION MATRIX — the signup-week × week-offset triangle
    * every growth dashboard opens with: of the users who signed up in
    * cohort week c, what share was active (ANY event) k weeks later?
    * The SIGNUP-anchored weekly RATE twin of
    * [[Pipeline.retentionCohorts]] (which cohorts every user by
    * first-SEEN day and reports raw counts): the cohort key is the
    * signup event, activity before the signup DAY is excluded (the
    * filter is day-grain, so same-day pre-signup events still count
    * at offset 0 — which the signup itself saturates anyway), the
    * weekly grain is the dashboard convention, and the permille
    * column is the exact rate.
    * Weeks are INTEGER day buckets, not calendar weeks:
    * day = unix_micros div 86400·10⁶, cohort = signup_day div 7,
    * offset = (event_day − signup_day) div 7 — engine-independent
    * arithmetic (date_trunc('week') Monday conventions never enter).
    * Retention is the exact permille floor-div (non-negative, no
    * sign-split needed). Pre-signup events are excluded (offset ≥ 0 by
    * the filter, so `div` IS the floor).
    *
    * Scale shape: signup table = one user-dimension aggregate; ONE
    * corpus shuffle joins events to it on user_id (stats-planned, no
    * hint — the user dimension is corpus-scale/10⁴ but not broadcast-
    * small at 100 TB); the (cohort, offset, user) distinct partial-
    * aggregates to user grain; the final grid is ≤ weeks² cells. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val su = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("s_us"))
      .select(col("user_id"), expr("s_us div 86400000000").as("s_day"))
      .withColumn("cohort_week", expr("s_day div 7"))
    val cohortSizes = su.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_cohort"))
    events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("e_day"))
      .join(su, "user_id")
      .filter(col("e_day") >= col("s_day"))
      .select(col("cohort_week"),
        expr("(e_day - s_day) div 7").as("offset_weeks"), col("user_id"))
      .distinct()
      .groupBy("cohort_week", "offset_weeks")
      .agg(count(lit(1)).as("n_active"))
      .join(cohortSizes, "cohort_week")
      .select(col("cohort_week"), col("offset_weeks"), col("n_cohort"),
        col("n_active"),
        expr("(1000 * n_active) div n_cohort").as("retention_permille"))
      .orderBy("cohort_week", "offset_weeks")
  }

  /** Conversion-window ladder (micros) — shared plan/oracle literals
    * (the Search.MmrLambdaPermille rule): 1 h, 24 h, 7 d. */
  val ConversionWindowsUs: Seq[Long] =
    Seq(3600L, 86400L, 604800L).map(_ * 1000000L)

  /** CONVERSION WITHIN TIME WINDOWS — the funnel-latency readout
    * beside [[survivalKm]]'s full curve: of all signed-up users, how
    * many purchased within 1 h / 24 h / 7 d of signup. Shares
    * [[firstPurchaseAfterSignup]] with the survival estimators (one
    * cohort definition), durations in exact micros. Output one row
    * per window: (window_hours, n_signups, n_converted, rate ppm).
    *
    * Scale shape: two filtered corpus passes reduce to the per-user
    * cohort table (staged — each window row re-reads it), then each
    * window is a one-row aggregate; the 3-row output unions. */
  def conversionWindows(events: DataFrame,
      windowsUs: Seq[Long] = ConversionWindowsUs): DataFrame = {
    val fp = Materialize.stage(firstPurchaseAfterSignup(events)
      .select(col("s_ts"), col("fp_ts"),
        (unix_micros(col("fp_ts")) - unix_micros(col("s_ts")))
          .as("delta_us")))
    windowsUs.map { w =>
      fp.agg(count(lit(1)).as("n_signups"),
          sum(when(col("delta_us").isNotNull && col("delta_us") <= w, 1L)
            .otherwise(0L)).as("n_converted"))
        .select(lit(w / 3600000000L).as("window_hours"),
          col("n_signups"), col("n_converted"),
          expr("CASE WHEN n_signups > 0 THEN " +
            "1000000 * n_converted div n_signups END").as("rate_ppm"))
    }.reduce(_ unionAll _).orderBy("window_hours")
  }

  /** SEQUENCE ENTROPY RATE — the conditional next-event entropy
    * H(next | prev) of per-user event streams, in exact micro-nats:
    * the predictability readout of a behavioral feed (≈ 0 = scripted
    * sequences; ≈ ln |types| = memoryless). Transition cells come
    * from the SAME per-user lag pass as event_transitions; with
    * c_ab = transition counts and c_a = from-state marginals,
    * H = (Σ c_ab·(ln c_a − ln c_ab)) / N on the quantized-ln ladder
    * (term ≥ 0, so the micro value floors a non-negative quantity;
    * epsilon sign-split guard anyway). Emitted with the unconditional
    * next-symbol entropy H(next) for the information-gain reading
    * (H(next) − H(next|prev) = I(prev; next)).
    *
    * Scale shape: one user-partitioned lag pass partial-aggregates to
    * the ≤ |types|²-row cell table; marginals are windows over that
    * bounded table; one-row report. */
  def entropyRate(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cells = events
      .select(col("user_id"), col("event_type").as("to_t"),
        lag(col("event_type"), 1).over(w).as("from_t"))
      .filter(col("from_t").isNotNull)
      .groupBy(col("from_t"), col("to_t"))
      .agg(count(lit(1)).as("c"))
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    cells
      .withColumn("ca", sum(col("c")).over(Window.partitionBy(col("from_t"))))
      .withColumn("cb", sum(col("c")).over(Window.partitionBy(col("to_t"))))
      .agg(sum(col("c")).as("n_transitions"),
        countDistinct(col("from_t")).as("n_states"),
        sum((col("c") * (ln4(col("ca")) - ln4(col("c")))).cast(Dec))
          .as("hc4"),
        sum((col("c") * ln4(col("cb"))).cast(Dec)).as("sb4"))
      .select(col("n_transitions"), col("n_states"),
        expr("CAST((100 * hc4) div n_transitions AS BIGINT)")
          .as("h_cond_micro"),
        expr("CAST((100 * (CAST(n_transitions AS DECIMAL(38,0)) * " +
          s"${ln4Sql("n_transitions")} - sb4)) div n_transitions AS BIGINT)")
          .as("h_next_micro"))
  }

  /** HOUR-OF-DAY SEASONALITY AUDIT — per event type, the 24-bin
    * hour-of-day profile reduced to the three numbers a scheduler or
    * anomaly gate wants: the peak hour with its traffic share, and
    * the χ² distance from a uniform profile (χ² = Σ(n_h − n/24)² /
    * (n/24), algebraically = Σ(24·n_h − n)² / (24n) — pure integers,
    * summed in DECIMAL/HUGEINT since the squares reach 24³·n²).
    * A flat feed (bot traffic, replayed logs) reads χ² ≈ 0 where
    * organic diurnal traffic reads large; hours with zero events
    * still contribute (24·0 − n)² through the n-term identity below.
    *
    * Scale shape: one corpus pass to the (type × ≤24 hour) table;
    * the missing-hour mass is algebraic — Σ over OBSERVED hours of
    * (24n_h − n)² plus (24 − h_obs)·n² for absent hours — so no grid
    * completion is needed; windows partition per type over ≤24 rows. */
  def hourlySeasonality(events: DataFrame): DataFrame = {
    val byHour = events
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("nh"))
    val wT = Window.partitionBy(col("event_type"))
    val wPk = Window.partitionBy(col("event_type"))
      .orderBy(col("nh").desc, col("hr").asc)
    byHour
      .withColumn("n", sum(col("nh")).over(wT))
      .withColumn("rn", row_number().over(wPk))
      .groupBy(col("event_type"), col("n"))
      .agg(
        count(lit(1)).as("h_obs"),
        max(when(col("rn") === 1, col("hr"))).as("peak_hour"),
        max(when(col("rn") === 1, col("nh"))).as("peak_nh"),
        // lift BEFORE the square — (24·n_h − n)² in INT64 would wrap
        // past n ≈ 1.3·10⁸ (the review-caught overflow class)
        sum(expr("CAST(24 * nh - n AS DECIMAL(38,0)) * (24 * nh - n)"))
          .as("s2"))
      .select(col("event_type"), col("n"), col("peak_hour"),
        expr("1000 * peak_nh div n").as("peak_share_permille"),
        expr("CAST(1000000 * (s2 + (24 - h_obs) * (CAST(n AS DECIMAL(38,0)) * n))" +
          " div (24 * n) AS BIGINT)").as("chi2_uniform_micro"))
      .orderBy("event_type")
  }

  /** Power-iteration depth of [[markovStationary]] — shared with the
    * oracle generator so plan and SQL unroll identically. 8 rounds on
    * a handful of well-connected states lands within a few ppm of the
    * analytic fixed point (error ~|λ₂|⁸; spec-pinned on a two-state
    * chain with known π). The CONTRACT is the 8-step orbit itself —
    * that is what the oracle hash gates. */
  val MarkovIters = 8

  /** MARKOV STATIONARY DISTRIBUTION — where does user attention
    * settle? The stationary π of the event-type transition chain
    * (πP = π), the one-number-per-state summary the transition TABLE
    * (`event_transitions`) doesn't give. Computed by `MarkovIters`
    * unrolled power-iteration rounds in EXACT integer arithmetic:
    * transition probabilities quantized once to ppm, each round
    * π'_j = Σ_i π_i·p_ij renormalized to Σ = 10⁶ by integer floor-div
    * — both engines walk the identical orbit (the embeddingPcaPower
    * contract: the oracle pins the k-step orbit). Σπ_i·p_ij ≤ 10¹²
    * and the ×10⁶ lift ≤ 10¹⁸, inside INT64 by construction
    * regardless of corpus size (the matrix is ppm-quantized).
    *
    * State space: transitions into terminal-only types (a type never
    * observed as a predecessor) are CENSORED before quantization, so
    * each kept row renormalizes over kept targets and the orbit
    * conserves mass (review finding: without this a sink-only type's
    * inflow vanished at the next round's join and the orbit
    * oscillated). The censoring is ONE level — a type whose every
    * successor is itself terminal (a 2-step dead end) is outside this
    * operator's contract; such chains have no stationary distribution
    * on the observed support and want absorbing-chain analysis, not
    * this. On any chain whose non-terminal part is closed (the events
    * corpus and the spec fixtures), the result is the stationary π of
    * the censored chain.
    *
    * Scale shape: ONE corpus pass (the lag window, partitioned by
    * user_id — the scan's partition key) collapses to the
    * |types|²-row matrix; every round is a join+aggregate over that
    * domain-bounded table with bounded unpartitioned windows
    * (allowlisted, the value_histogram class). Each round stages —
    * round k's lineage embeds rounds 1..k−1 (the pcaPower rule). */
  def markovStationary(events: DataFrame,
      iters: Int = MarkovIters): DataFrame = {
    val wl = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(wl))
      .filter(col("from_type").isNotNull)
    val counts = pairs
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("nij"))
    // censor transitions into terminal-only types BEFORE the ppm
    // quantization so each kept row renormalizes over kept targets
    val m = Materialize.stage(counts
      .join(counts.select(col("from_type").as("to_type")).distinct(),
        Seq("to_type"), "semi")
      .withColumn("ni",
        sum(col("nij")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"),
        expr("1000000 * nij div ni").as("p_ppm")))
    // loop staging stays EAGER (re-measured in the r14 optimization
    // round): the lazy form — pagerankNearDup's winning shape — is
    // SLOWER here (1.5-1.8 s wall eager vs 2.3-2.7 s lazy at sf0.1;
    // the 8-deep lazy-checkpoint chain over the ≤|types|-row vector
    // costs more at materialization than 8 tiny eager jobs). The
    // stage-or-not/eager-or-not call is per loop, measured — not a
    // blanket rule.
    var v = Materialize.stage(
      m.select(col("from_type").as("t")).distinct()
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy()))
        .select(col("t"), expr("1000000 div cnt").as("pi")))
    for (_ <- 1 to iters) {
      v = Materialize.stage(
        v.join(m, col("t") === col("from_type"))
          .groupBy(col("to_type"))
          .agg(sum(col("pi") * col("p_ppm")).as("raw"))
          .withColumn("tot", sum(col("raw")).over(Window.partitionBy()))
          .select(col("to_type").as("t"),
            expr("1000000 * raw div tot").as("pi")))
    }
    v.select(col("t").as("event_type"), col("pi").as("pi_ppm"))
      .orderBy("event_type")
  }

  /** ORDERED FUNNEL — the strict-sequence product-analytics funnel
    * [[funnel]] does not express: signup → view → purchase must occur
    * in TEMPORAL ORDER (each step strictly after the user's earliest
    * completion of the previous one — the standard "first touch then
    * progression" convention; a view before signup does not count).
    * One row per step with users reached and conversion vs step 1.
    *
    * Scale shape: a chain of per-user min aggregates, each one
    * equi-join on user_id (the scan's partition key) with the step
    * predicate inside the LEFT join condition (the survivalKm lesson:
    * post-join filters would DROP non-progressing users instead of
    * keeping them as nulls); the final 3-row unpivot reads one
    * 1-row count aggregate. */
  def orderedFunnel(events: DataFrame): DataFrame = {
    val s1 = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"))
    val s2 = s1.join(v, col("vu") === col("user_id") && col("vts") > col("t1"),
        "left")
      .groupBy(col("user_id"), col("t1")).agg(min(col("vts")).as("t2"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val s3 = s2.join(p, col("pu") === col("user_id") && col("pts") > col("t2"),
        "left")
      .groupBy(col("user_id"), col("t1"), col("t2"))
      .agg(min(col("pts")).as("t3"))
    s3.agg(count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      .select(explode(array(
          struct(lit(1L).as("step"), lit("signup").as("step_name"),
            col("n1").as("n_users")),
          struct(lit(2L).as("step"), lit("view").as("step_name"),
            col("n2").as("n_users")),
          struct(lit(3L).as("step"), lit("purchase").as("step_name"),
            col("n3").as("n_users")))).as("s"),
        col("n1"))
      .select(col("s.step").as("step"), col("s.step_name").as("step_name"),
        col("s.n_users").as("n_users"),
        expr("CASE WHEN n1 > 0 THEN 1000 * s.n_users div n1 END")
          .as("conv_permille"))
      .orderBy("step")
  }

  /** TWO-PROPORTION A/B TEST — the experiment-readout operator:
    * per-variant user counts and purchase-conversion counts, exact
    * ppm rates, and the pooled two-proportion z² (≡ 1-dof χ²)
    * significance on the LOG scale. The variant is `user_id % 2` —
    * the deterministic stand-in for an assignment hash (swap in
    * `pmod(hash(user_id), 2)` in production; the operator only needs
    * SOME deterministic 2-way user split).
    *
    * Exactness: z² = (x₁n₀ − x₀n₁)²·N / (n₀n₁X(N−X)) is rational, so
    * ln z² is a ±sum of integer lns — emitted as the quantized-ln
    * micro value (the lang_source_mi ladder; sqrt/exp never run on
    * either engine). The gate thresholds ln z² > ln 3.84 ≈ 1.346·10⁶
    * for 95%. NULL when degenerate (no conversions, all conversions,
    * or exactly equal rates — z = 0). INT64 guard: the cross products
    * x·n stay inside INT64 to ~3·10⁹ users per variant; lift them to
    * DECIMAL(38,0) beyond.
    *
    * Scale shape: one pass to per-(variant, user) conversion flags —
    * partial-aggregated, keyed finer than user_id (the scan's
    * partition key) — then a 2-row variant table and a 1-row report.
    * No window, no cross join. */
  def abConversionZtest(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
    perUser.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
      .agg(
        sum(when(col("variant") === 0, col("n"))).as("n0"),
        sum(when(col("variant") === 0, col("x"))).as("x0"),
        sum(when(col("variant") === 1, col("n"))).as("n1"),
        sum(when(col("variant") === 1, col("x"))).as("x1"))
      .select(col("n0"), col("x0"), col("n1"), col("x1"),
        expr("CASE WHEN n0 > 0 THEN 1000000 * x0 div n0 END").as("p0_ppm"),
        expr("CASE WHEN n1 > 0 THEN 1000000 * x1 div n1 END").as("p1_ppm"),
        expr("CASE WHEN n0 > 0 AND n1 > 0 THEN " +
          "1000000 * x1 div n1 - 1000000 * x0 div n0 END").as("diff_ppm"),
        expr("CASE WHEN n0 > 0 AND n1 > 0 AND x0 + x1 > 0 " +
          "AND x0 + x1 < n0 + n1 AND x1 * n0 <> x0 * n1 THEN " +
          s"100 * (2 * ${ln4Sql("abs(x1 * n0 - x0 * n1)")} + ${ln4Sql("n0 + n1")}" +
          s" - ${ln4Sql("n0")} - ${ln4Sql("n1")} - ${ln4Sql("x0 + x1")}" +
          s" - ${ln4Sql("n0 + n1 - x0 - x1")}) END").as("ln_z2_micro"))
  }
}
