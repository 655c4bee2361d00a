package graft

import graft.operators.Temporal
import graft.streaming.EventsStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.nio.file.Files

class TemporalStreamingSpec extends SparkSpec {
  import spark.implicits._

  lazy val events = Tables.events(spark, sf0001)

  test("tumbling windows cover every event exactly once") {
    val n = Temporal.tumbling(events).agg(sum("n_events")).as[Long].head()
    assert(n == events.count())
  }

  test("sliding windows (1h every 30m) cover every event exactly twice") {
    val n = Temporal.sliding(events).agg(sum("n_events")).as[Long].head()
    assert(n == 2 * events.count())
  }

  test("sessionize: session count and event mass are consistent") {
    val s = Temporal.sessionize(events)
    assert(s.agg(sum("n_events")).as[Long].head() == events.count())
    // session durations are non-negative and gaps within sessions < 30 min
    assert(s.filter($"duration_ms" < 0).count() == 0)
    // every user's sessions are numbered 1..k contiguously
    val bad = s.groupBy("user_id")
      .agg(max("session_id").as("mx"), count(lit(1)).as("n"))
      .filter($"mx" =!= $"n").count()
    assert(bad == 0)
  }

  test("activity intervals: coverage bounds, merge semantics, brute-force parity") {
    val span = 10L * 60 * 1000 * 1000
    val iv = Temporal.activityIntervals(events).collect()
    assert(iv.nonEmpty)
    iv.foreach { r =>
      val (n, cov, mx, nev) = (r.getAs[Long]("n_intervals"),
        r.getAs[Long]("covered_us"), r.getAs[Long]("max_interval_us"),
        r.getAs[Long]("n_events"))
      // each interval covers at least one span; total ≤ one span per event
      assert(cov >= n * span && cov <= nev * span, s"coverage bounds: $r")
      assert(mx >= span && mx <= cov)
      assert(n <= nev)
    }
    assert(iv.map(_.getAs[Long]("n_events")).sum == events.count())
    // brute-force interval union for one user
    val u = iv.head.getAs[Long]("user_id")
    val ts = events.filter($"user_id" === u)
      .select(unix_micros($"ts")).as[Long].collect().sorted
    var (cnt, cov, s0, e0) = (0L, 0L, ts.head, ts.head + span)
    ts.tail.foreach { t =>
      if (t > e0) { cnt += 1; cov += e0 - s0; s0 = t; e0 = t + span }
      else e0 = math.max(e0, t + span)
    }
    cnt += 1; cov += e0 - s0
    val row = iv.find(_.getAs[Long]("user_id") == u).get
    assert(row.getAs[Long]("n_intervals") == cnt &&
      row.getAs[Long]("covered_us") == cov, s"brute-force mismatch for user $u")
  }

  test("intervals_streamed equals the batch interval coalescing (streaming ≡ batch)") {
    val streamed = EventsStream.intervalsStreamedQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val batch = operators.Temporal.activityIntervals(
      Tables.events(spark, sf0001)).collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("hourly_seasonality: uniform profile reads chi2=0, single-hour spike reads 23n") {
    def ev(hours: Seq[Int]) =
      hours.zipWithIndex.map { case (h, i) =>
        (i.toLong, 1L, "view", f"2024-01-01 $h%02d:00:00", 0.0) }
        .toDF("event_id", "user_id", "event_type", "tss", "value")
        .select($"event_id", $"user_id", $"event_type",
          $"tss".cast("timestamp").as("ts"), $"value")
    // exactly one event per hour: 24·n_h − n = 0 everywhere → χ² = 0
    val flat = operators.Temporal.hourlySeasonality(ev(0 until 24)).collect()(0)
    assert(flat.getLong(4) == 0L && flat.getLong(3) == 41L, s"flat: $flat")
    // all 24 events in hour 5: χ² = 23·n exactly (552 → 552e6 micro)
    val spike = operators.Temporal.hourlySeasonality(
      ev(Seq.fill(24)(5))).collect()(0)
    assert(spike.getLong(2) == 5L && spike.getLong(3) == 1000L &&
      spike.getLong(4) == 552000000L, s"spike: $spike")
  }

  test("markov_stationary: symmetric cycle exact, biased chain hits the analytic fixed point") {
    def ev(types: Seq[String]) =
      types.zipWithIndex.map { case (t, i) =>
        (i.toLong, 1L, t, s"2024-01-01 00:${"%02d".format(i)}:00", 0.0) }
        .toDF("event_id", "user_id", "event_type", "tss", "value")
        .select($"event_id", $"user_id", $"event_type",
          $"tss".cast("timestamp").as("ts"), $"value")
    // perfect A↔B alternation: π = (1/2, 1/2) EXACTLY at every round
    // (the integer arithmetic is symmetric, so no drift is possible)
    val cyc = operators.Temporal.markovStationary(
      ev(Seq("a", "b", "a", "b", "a", "b", "a"))).collect()
    assert(cyc.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 500000L), ("b", 500000L)), s"got ${cyc.toSeq}")
    // P(a→a)=3/4, P(a→b)=1/4, P(b→a)=1 → π = (0.8, 0.2); 8 rounds
    // from uniform decay the error by |λ₂|⁸ = 0.25⁸ → within a few ppm
    val bias = operators.Temporal.markovStationary(
      ev(Seq("a", "a", "a", "a", "b", "a", "a", "a", "a", "b", "a")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(bias("a") - 800000L) <= 20 &&
      math.abs(bias("b") - 200000L) <= 20, s"got $bias")
    // mass conservation: renormalization keeps Σπ within the
    // floor-div loss (< |states| ppm)
    assert(math.abs(bias.values.sum - 1000000L) < 2)
    // terminal-only state: 'c' ends the sequence and never continues —
    // its inflow is CENSORED (b renormalizes to a alone), so the
    // output is the stationary π of the closed {a, b} chain and mass
    // is conserved (review finding: uncensored, c's mass vanished at
    // the next round's join and the orbit oscillated)
    val sink = operators.Temporal.markovStationary(
      ev(Seq("a", "b", "a", "b", "c"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sink.keySet == Set("a", "b") &&
      sink("a") == 500000L && sink("b") == 500000L, s"got $sink")
  }

  test("ordered_funnel: strict temporal order, out-of-order steps do not count") {
    def ev(rows: Seq[(Long, String, String)]) =
      rows.zipWithIndex.map { case ((u, t, ts), i) =>
        (i.toLong, u, t, ts, 0.0) }
        .toDF("event_id", "user_id", "event_type", "tss", "value")
        .select($"event_id", $"user_id", $"event_type",
          $"tss".cast("timestamp").as("ts"), $"value")
    // u1 completes in order; u2's view precedes signup (step 2 not
    // reached); u3's purchase precedes its view (step 3 not reached);
    // u4 never signs up (not in the funnel at all)
    val df = ev(Seq(
      (1L, "signup", "2024-01-01 00:00:00"),
      (1L, "view", "2024-01-01 01:00:00"),
      (1L, "purchase", "2024-01-01 02:00:00"),
      (2L, "view", "2024-01-01 00:00:00"),
      (2L, "signup", "2024-01-01 01:00:00"),
      (3L, "signup", "2024-01-01 00:00:00"),
      (3L, "purchase", "2024-01-01 01:00:00"),
      (3L, "view", "2024-01-01 02:00:00"),
      (4L, "view", "2024-01-01 00:00:00")))
    val out = operators.Temporal.orderedFunnel(df).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq ==
      Seq((1L, "signup", 3L, 1000L), (2L, "view", 2L, 666L),
        (3L, "purchase", 1L, 333L)),
      s"got ${out.toSeq}")
  }

  test("window_tumbling_streamed equals the batch hourly aggregate (streaming ≡ batch)") {
    val streamed = EventsStream.tumblingStreamedQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val batch = Tables.events(spark, sf0001)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round($"value" * 1000).cast("long")).as("sum_value_milli"))
      .select(unix_millis($"w.start").as("ws_ms"), $"event_type",
        $"n_events", $"sum_value_milli")
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream/batch window tables differ: ${streamed.size} vs ${batch.size}")
  }

  test("ab_conversion_ztest: hand-computed z² on the ln ladder, degenerate cases NULL") {
    def ev(rows: Seq[(Long, String)]) =
      rows.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, u, t, "2024-01-01 00:00:00", 0.0) }
        .toDF("event_id", "user_id", "event_type", "tss", "value")
        .select($"event_id", $"user_id", $"event_type",
          $"tss".cast("timestamp").as("ts"), $"value")
    // 10 users per variant (evens=0, odds=1); x0=2, x1=5:
    // z² = 30²·20/(10·10·7·13) = 1.978, ln z² = 0.6821 → 682100 micro
    // on the quantized ladder (hand sum of the six ln4 terms)
    val base = (0L to 19L).map(u => (u, "view"))
    val conv = Seq(0L, 2L).map((_, "purchase")) ++
      Seq(1L, 3L, 5L, 7L, 9L).map((_, "purchase"))
    val r = operators.Temporal.abConversionZtest(ev(base ++ conv)).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((10L, 2L, 10L, 5L)), s"counts: $r")
    assert(r.getLong(4) == 200000L && r.getLong(5) == 500000L &&
      r.getLong(6) == 300000L, s"rates: $r")
    assert(r.getLong(7) ==
      100L * (2 * 34012L + 29957L - 23026L - 23026L - 19459L - 25649L),
      s"ln_z2: $r")
    // exactly equal rates → z = 0 → NULL significance
    val eq = ev((0L to 19L).map(u => (u, "view")) ++
      Seq(0L, 1L).map((_, "purchase")))
    assert(operators.Temporal.abConversionZtest(eq).collect()(0).isNullAt(7))
    // zero conversions anywhere → NULL
    val zero = ev((0L to 19L).map(u => (u, "view")))
    assert(operators.Temporal.abConversionZtest(zero).collect()(0).isNullAt(7))
  }

  test("survival_km: hand-computed product-limit, censoring keeps risk-set semantics") {
    def ev(rows: Seq[(Long, String, String)]) =
      rows.zipWithIndex.map { case ((u, t, ts), i) =>
        (i.toLong, u, t, ts, 0.0) }
        .toDF("event_id", "user_id", "event_type", "tss", "value")
        .select($"event_id", $"user_id", $"event_type",
          $"tss".cast("timestamp").as("ts"), $"value")
    // 4 signups at t0; u1 purchases day 1, u2 day 2; u3/u4 never →
    // censored at the horizon (day 2); u5 purchased BEFORE signup →
    // censored too, not dropped. KM: S(1)=4/5·... risk day1 = 5
    val df = ev(Seq(
      (1L, "signup", "2024-01-01 00:00:00"),
      (2L, "signup", "2024-01-01 00:00:00"),
      (3L, "signup", "2024-01-01 00:00:00"),
      (4L, "signup", "2024-01-01 00:00:00"),
      (5L, "signup", "2024-01-01 00:00:00"),
      (5L, "purchase", "2023-12-31 00:00:00"),
      (1L, "purchase", "2024-01-02 00:00:00"),
      (2L, "purchase", "2024-01-03 00:00:00"),
      (9L, "view", "2024-01-03 00:00:00")))
    val out = operators.Temporal.survivalKm(df).collect()
    assert(out.length == 2, s"got ${out.toSeq}")
    val d1 = out(0); val d2 = out(1)
    // day 1: 5 at risk, 1 event; lnS = 100·(ln4(4) − ln4(5))
    assert((d1.getLong(0), d1.getLong(1), d1.getLong(2), d1.getLong(3)) ==
      ((1L, 5L, 1L, 0L)), s"day1: $d1")
    assert(d1.getLong(4) == 100L * (13863L - 16094L), s"day1 lnS: $d1")
    // day 2: 4 at risk (censored-at-2 still in the risk set), 1 event,
    // 3 censored; lnS adds ln4(3) − ln4(4)
    assert((d2.getLong(0), d2.getLong(1), d2.getLong(2), d2.getLong(3)) ==
      ((2L, 4L, 1L, 3L)), s"day2: $d2")
    assert(d2.getLong(4) == 100L * (13863L - 16094L + 10986L - 13863L),
      s"day2 lnS: $d2")
    // extinction: everyone converts on the same day → survival exactly
    // 0, lnS NULL from that day
    val ext = ev(Seq(
      (1L, "signup", "2024-01-01 00:00:00"),
      (2L, "signup", "2024-01-01 00:00:00"),
      (1L, "purchase", "2024-01-02 00:00:00"),
      (2L, "purchase", "2024-01-02 00:00:00")))
    val eo = operators.Temporal.survivalKm(ext).collect()
    assert(eo.length == 1 && eo(0).isNullAt(4) &&
      eo(0).getLong(1) == 2L && eo(0).getLong(2) == 2L, s"got ${eo.toSeq}")
  }

  test("dedup_streamed: planted intra- and cross-batch replays vanish, genuine rows survive") {
    val streamed = EventsStream.dedupStreamedQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val batch = Tables.events(spark, sf0001)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        sum(round($"value" * 1000).cast("long")).as("sum_value_milli"))
      .collect().map(_.toSeq).toSet
    // equality against the ORIGINAL corpus proves every planted copy
    // (both the in-batch 7th-event doubles and the second-batch
    // 13th-event replays) was removed and nothing genuine was dropped
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}")
  }

  test("funnel: converted users have at least one purchase after signup") {
    val f = Temporal.funnel(events)
    assert(f.filter($"converted" && $"n_purchases_after" === 0).count() == 0)
    assert(f.filter(!$"converted" && $"n_purchases_after" > 0).count() == 0)
  }

  test("bucketed range join equals the naive theta join") {
    val naive = {
      val p = events.filter($"event_type" === "purchase")
        .select($"event_id", unix_millis($"ts").as("p_ms"))
      val e = events.filter($"event_type" === "error")
        .select(unix_millis($"ts").as("e_ms"))
      p.crossJoin(e)
        .withColumn("hit", when(abs($"p_ms" - $"e_ms") <= 300000L, $"e_ms"))
        .groupBy("event_id")
        .agg(count($"hit").as("n_errors_nearby"),
          min(abs($"p_ms" - $"hit")).as("nearest_error_ms"))
    }
    val got = Temporal.purchasesNearErrors(events)
      .as[(Long, Long, Option[Long])].collect().toSet
    val want = naive.as[(Long, Long, Option[Long])].collect().toSet
    assert(got == want, s"bucketed rewrite diverged: ${(want -- got).take(3)}")
    assert(got.exists(_._2 > 0), "expected at least one purchase near an error")
  }

  test("streaming windowed counts equal the batch result on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val streamDf = mem.toDF().toDF("ts", "event_type")
    val q = EventsStream.toMemorySink(
      EventsStream.windowedCounts(streamDf), "wincounts").start()
    try {
      val rows = events.select($"ts", $"event_type")
        .as[(Timestamp, String)].collect().toSeq
      mem.addData(rows: _*)
      q.processAllAvailable()
      // append mode only emits closed windows; compare emitted ones to batch
      val got = spark.table("wincounts")
        .select($"ws", $"event_type", $"n_events")
        .as[(Timestamp, String, Long)].collect().toSet
      val batch = Temporal.tumbling(events)
        .select($"ws", $"event_type", $"n_events")
        .as[(Timestamp, String, Long)].collect()
        .map(r => (r._1, r._2, r._3)).toSet
      assert(got.subsetOf(batch), "streaming emitted a window batch disagrees with")
      assert(got.nonEmpty, "watermark should have closed at least one window")
    } finally q.stop()
  }

  test("session_window: exact-gap boundary merges, one past it splits") {
    // documents the operator's boundary rule (and pins the oracle's
    // > 1800000 ms new-session condition): an event exactly 30 min after
    // the previous one still MERGES (inclusive gap); 30 min + 1 ms splits
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = new Timestamp(t0.getTime + 30 * 60 * 1000)
    val d = Seq((1L, t0, 1.0), (1L, t1, 1.0)).toDF("user_id", "ts", "value")
    assert(Temporal.sessionWindowAgg(d).count() == 1)
    val split = Seq((1L, t0, 1.0), (1L, new Timestamp(t1.getTime + 1), 1.0))
      .toDF("user_id", "ts", "value")
    assert(Temporal.sessionWindowAgg(split).count() == 2)
  }

  test("streaming session_window emits the batch sessions once closed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val streamDf = mem.toDF().toDF("user_id", "ts")
    val q = EventsStream.toMemorySink(
      EventsStream.sessionWindows(streamDf), "sesswin").start()
    try {
      val rows = events.select($"user_id", $"ts")
        .as[(Long, Timestamp)].collect().toSeq
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sesswin")
        .select($"user_id", $"session_start", $"session_end", $"n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      val batch = Temporal.sessionWindowAgg(events.withColumn("value", lit(0.0)))
        .select($"user_id", $"session_start", $"session_end", $"n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      // append mode only emits sessions the watermark has closed
      assert(got.subsetOf(batch), "a streamed session disagrees with batch")
      assert(got.nonEmpty, "watermark should have closed at least one session")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val streamDf = mem.toDF().toDF("user_id", "ts", "event_type")
    val q = EventsStream.toMemorySink(
      EventsStream.purchasesWithSignups(streamDf), "ssjoin").start()
    try {
      val rows = events.select($"user_id", $"ts", $"event_type")
        .as[(Long, Timestamp, String)].collect().toSeq
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("ssjoin")
        .as[(Long, Timestamp, Timestamp)].collect().toSet
      // same transform applied to the batch source (watermarks are no-ops)
      val batch = EventsStream.purchasesWithSignups(
        events.select($"user_id", $"ts", $"event_type"))
        .as[(Long, Timestamp, Timestamp)].collect().toSet
      // inner stream-stream joins emit on match, so the full result appears
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val streamDf = mem.toDF().toDF("event_id", "ts")
    val q = EventsStream.toMemorySink(
      EventsStream.dedupEvents(streamDf), "dedupstream").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData((1L, t0), (2L, t0), (1L, t0))       // in-batch replay
      q.processAllAvailable()
      mem.addData((2L, t0), (3L, t0))                 // cross-batch replay
      q.processAllAvailable()
      val ids = spark.table("dedupstream")
        .select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stateful running totals accumulate across two micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "value")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val q = EventsStream.runningUserTotals(spark, df)
      .writeStream.outputMode("update").format("memory").queryName("totals").start()
    try {
      mem.addData((1L, t0, 2.0), (1L, t0, 3.0), (2L, t0, 1.0))
      q.processAllAvailable()
      mem.addData((1L, t0, 5.0))
      q.processAllAvailable()
      val u1 = spark.table("totals").filter($"user_id" === 1 && $"n" === 3)
        .select("total").as[Double].collect()
      assert(u1.headOption.contains(10.0), s"expected user 1 total 10.0 after 3 events")
    } finally q.stop()
  }

  test("stateful running totals: idle state is evicted by the event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "value")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(h: Long) = new Timestamp(t0.getTime + h * 3600 * 1000)
    val q = EventsStream.runningUserTotals(spark, df)  // idle = 1 hour
      .writeStream.outputMode("update").format("memory").queryName("evict").start()
    try {
      mem.addData((1L, t0, 2.0), (1L, t0, 3.0))
      q.processAllAvailable()               // user 1: n=2, total=5
      mem.addData((2L, plus(48), 1.0))      // watermark jumps past t0+1h+delay
      q.processAllAvailable()
      mem.addData((2L, plus(49), 1.0))      // next batch fires user 1's timeout
      q.processAllAvailable()
      mem.addData((1L, plus(49), 7.0))      // user 1 re-appears POST-eviction
      q.processAllAvailable()
      val u1 = spark.table("evict").filter($"user_id" === 1)
        .select($"n", $"total").as[(Long, Double)].collect().toSet
      // n=1/total=7 proves the (n=2,total=5) state was REMOVED, not resumed
      assert(u1.contains((1L, 7.0)), s"state not evicted: got $u1")
      assert(u1.contains((2L, 5.0)), s"pre-eviction totals missing: got $u1")
    } finally q.stop()
  }

  test("streaming word count equals the batch flagship on the same corpus") {
    // the reference's ONE query (word count, O5-O10) run as a stream:
    // same tokenCounts transform, complete output mode, result identical
    // to batch — the engine's batch/stream duality on the flagship path
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = graft.operators.WordCount.tokenCounts(mem.toDF().toDF("text"))
      .writeStream.outputMode("complete").format("memory").queryName("wcstream")
      .start()
    try {
      val texts = Tables.documents(spark, sf0001)
        .select($"text").as[String].collect().toSeq
      mem.addData(texts.take(200): _*)
      q.processAllAvailable()
      mem.addData(texts.drop(200): _*)   // incremental update across batches
      q.processAllAvailable()
      val got = spark.table("wcstream").as[(String, Long)].collect().toSet
      val batch = graft.operators.WordCount.tokenCounts(
        Tables.documents(spark, sf0001).select($"text"))
        .as[(String, Long)].collect().toSet
      assert(got == batch, s"diff: ${(batch -- got).take(3)} / ${(got -- batch).take(3)}")
    } finally q.stop()
  }

  test("AvailableNow drains a file stream to the exact batch result, then stops") {
    // the reference engine is one-shot batch (coordinator exits when
    // done); the Spark-native equivalent of that mode over the SAME
    // streaming transform is Trigger.AvailableNow — process everything
    // present, then terminate, with state/watermarks intact
    val src = Files.createTempDirectory("avnow-src").toString
    events.select($"ts", $"event_type").write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType))))
      .parquet(src)
    val q = stream.groupBy($"event_type").count()
      .writeStream.outputMode("complete").format("memory").queryName("avnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
      val got = spark.table("avnow").as[(String, Long)].collect().toSet
      val batch = events.groupBy($"event_type").count()
        .as[(String, Long)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("foreachBatch idempotent sink: replayed batch ids do not duplicate rows") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("fb-out").toString
    val ckpt = Files.createTempDirectory("fb-ckpt").toString
    val mem = MemoryStream[(Long, Double)]
    val df = mem.toDF().toDF("user_id", "value")
    val q = EventsStream.toIdempotentParquetSink(df, out, ckpt).start()
    try {
      mem.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      mem.addData((3L, 3.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(out).count()
      assert(rows == 3, s"expected 3 rows across batch dirs, got $rows")
      // simulate the at-least-once replay: re-writing an existing batch id
      // must overwrite, not append
      Seq((1L, 1.0), (2L, 2.0)).toDF("user_id", "value")
        .write.mode("overwrite").parquet(s"$out/batch=0")
      assert(spark.read.parquet(out).count() == 3, "replayed batch duplicated rows")
    } finally q.stop()
  }

  test("restart from checkpoint replays the uncommitted batch without duplicate or missing rows") {
    // Crash-recovery proof for the exactly-once claim: run a batch,
    // stop, then DELETE the newest commit marker — exactly the state a
    // crash leaves when the sink wrote but the commit didn't land. The
    // restarted query must re-execute that batch from its checkpointed
    // offsets (foreachBatch is at-least-once), and the idempotent
    // overwrite must absorb the replay: afterwards the sink holds every
    // input row exactly once.
    val src = Files.createTempDirectory("rs-src").toString
    val out = Files.createTempDirectory("rs-out").toString
    val ckpt = Files.createTempDirectory("rs-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def stream() = spark.readStream.schema(schema).parquet(src)
    Seq((1L, 1.0), (2L, 2.0)).toDF("user_id", "value")
      .write.mode("append").parquet(src)
    val q1 = EventsStream.toIdempotentParquetSink(stream(), out, ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 2)
    // more source data + the simulated crash: newest commit marker gone
    Seq((3L, 3.0), (4L, 4.0), (5L, 5.0)).toDF("user_id", "value")
      .write.mode("append").parquet(src)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val newest = commits.maxBy(_.getName.toLong)
    assert(newest.delete(), "failed to remove the commit marker")
    // the active-checkpoint registry releases on the async listener bus
    // after stop(); retry the restart briefly instead of racing it
    var attempts = 0
    var drained = false
    while (!drained) {
      val q2 = EventsStream.toIdempotentParquetSink(stream(), out, ckpt).start()
      try { q2.processAllAvailable(); drained = true }
      catch {
        case e: Throwable if attempts < 60 &&
            String.valueOf(e.getMessage).contains("concurrently using") =>
          attempts += 1; Thread.sleep(500)
      } finally q2.stop()
    }
    val got = spark.read.parquet(out)
      .select($"user_id", $"value").as[(Long, Double)].collect().sorted.toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0)),
      s"restart lost or duplicated rows: $got")
  }

  test("streaming merge sink upserts per-batch deltas and absorbs replays exactly once") {
    // the accumulating-merge counterpart of the idempotent-overwrite
    // restart test: a replayed batch would DOUBLE-COUNT unless the
    // batchId marker guard skips it, so crash-restart here proves the
    // non-idempotent-sink exactly-once pattern
    val src = Files.createTempDirectory("ms-src").toString
    val state = Files.createTempDirectory("ms-state").toString
    val ckpt = Files.createTempDirectory("ms-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def stream() = spark.readStream.schema(schema).parquet(src)
    Seq((1L, 1.0), (1L, 2.0), (2L, 5.0)).toDF("user_id", "value")
      .write.mode("append").parquet(src)
    val q1 = EventsStream.toMergeSink(stream(), state, ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    Seq((1L, 4.0), (3L, 7.0)).toDF("user_id", "value")
      .write.mode("append").parquet(src)
    // crash simulation: newest commit marker gone → that batch replays
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty)
    assert(commits.maxBy(_.getName.toLong).delete())
    // harsher crash window: the sink also died AFTER writing the new
    // state version but BEFORE its commit marker — fake the orphan by
    // copying batch-0 state to an uncommitted v9. The reader must not
    // see it, and replay must still converge to the right totals.
    val orphan = EventsStream.mergeState(spark, state)
    orphan.write.mode("overwrite").parquet(s"$state/v9")
    assert(EventsStream.mergeState(spark, state)
      .as[(Long, Long, java.math.BigDecimal)].collect().length == 2,
      "uncommitted version dir leaked into mergeState")
    var attempts = 0
    var drained = false
    while (!drained) {
      val q2 = EventsStream.toMergeSink(stream(), state, ckpt).start()
      try { q2.processAllAvailable(); drained = true }
      catch {
        case e: Throwable if attempts < 60 &&
            String.valueOf(e.getMessage).contains("concurrently using") =>
          attempts += 1; Thread.sleep(500)
      } finally q2.stop()
    }
    val got = EventsStream.mergeState(spark, state)
      .select($"user_id", $"n_events", $"total_value".cast("double"))
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L, 7.0), (2L, 1L, 5.0), (3L, 1L, 7.0)),
      s"merge state wrong after replayed batch: $got")
    // the committed batch's sweep also PRUNES the crashed-writer orphan
    // (v9) and every older version dir AND marker — previously orphans
    // accumulated forever. Exactly one version + its marker remain.
    val left = new java.io.File(state).listFiles().map(_.getName)
      .filter(n => n.startsWith("v") || n.startsWith("_merged_")).sorted.toSeq
    assert(left.length == 2 && left.count(_.startsWith("_merged_")) == 1 &&
      left.find(_.startsWith("_merged_")).map(_.stripPrefix("_merged_")) ==
        left.find(n => n.startsWith("v") && !n.startsWith("_")).map(_.stripPrefix("v")),
      s"stale/orphan state not pruned (expected one version + its marker): $left")
  }

  test("streaming near-dup gate equals the batch signature dedup") {
    implicit val sqlCtx = spark.sqlContext
    // planted: docs 1 and 2 are identical (same signature), 4 duplicates
    // 1 again later, 3 and 5 are unique; 6 is a short doc (singleton-gram
    // fallback) duplicated by 7
    val t0 = 1700000000000L
    def ts(s: Long) = new Timestamp(t0 + s * 1000)
    val rows = Seq(
      (1L, ts(1), "alpha beta gamma delta epsilon zeta eta"),
      (2L, ts(2), "alpha beta gamma delta epsilon zeta eta"),
      (3L, ts(3), "one two three four five six seven eight"),
      (4L, ts(4), "alpha beta gamma delta epsilon zeta eta"),
      (5L, ts(5), "nine ten eleven twelve thirteen fourteen"),
      (6L, ts(6), "hi"),
      (7L, ts(7), "hi"))
    val batchDf = rows.toDF("doc_id", "ts", "text")
    val expect = operators.Dedup.sigDedupBatch(batchDf)
      .select("doc_id").as[Long].collect().toSet
    assert(expect == Set(1L, 3L, 5L, 6L), s"batch kept $expect")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = EventsStream.nearDupGate(mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ndgate").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("ndgate").select("doc_id").as[Long].collect().toSet
      assert(got == expect, s"stream kept $got, batch kept $expect")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization equals batch sessionize") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "value")
    val q = EventsStream.sessionizeStateful(spark, df)
      .writeStream.outputMode("append").format("memory").queryName("statesess").start()
    try {
      val rows = events.select($"user_id", $"ts", $"value")
        .as[(Long, Timestamp, Double)].collect().toSeq
      mem.addData(rows: _*)
      q.processAllAvailable()
      // flush: a far-future event (sentinel user) advances the watermark
      // past every session_end + gap; the second batch fires the timeouts
      val maxTs = rows.map(_._2.getTime).max
      mem.addData((-1L, new Timestamp(maxTs + 86400000L), 0.0))
      q.processAllAvailable()
      mem.addData((-1L, new Timestamp(maxTs + 2 * 86400000L), 0.0))
      q.processAllAvailable()
      def key(u: Long, s: Timestamp, e: Timestamp, n: Long, v: Double) =
        (u, s.getTime, e.getTime, n, math.round(v * 1000))
      val got = spark.table("statesess").filter($"user_id" =!= -1L)
        .select($"user_id", $"session_start", $"session_end", $"n_events", $"sum_value")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
        .map(r => key(r._1, r._2, r._3, r._4, r._5)).toSet
      val batch = Temporal.sessionize(events)
        .select($"user_id", $"session_start", $"session_end", $"n_events", $"sum_value")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
        .map(r => key(r._1, r._2, r._3, r._4, r._5)).toSet
      assert(got == batch,
        s"stateful sessions != batch: missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stream-static join enriches every event without join state") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
    val mem = MemoryStream[(Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "user_id", "event_type", "value")
    val q = EventsStream.enrichWithStatic(df, dim)
      .writeStream.outputMode("append").format("memory")
      .queryName("enriched").start()
    try {
      val rows = events.select($"event_id", $"user_id", $"event_type", $"value")
        .as[(Long, Long, String, Double)].collect().toSeq
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("enriched")
      assert(got.count() == events.count(), "every event must be enriched")
      val batch = events.join(dim, "event_type")
        .select($"event_id", ($"value" * $"weight").as("wv"))
      val parity = got.select($"event_id", $"weighted_value")
        .join(batch, "event_id")
        .filter($"weighted_value" =!= $"wv").count()
      assert(parity == 0, "stream enrichment must equal the batch join")
    } finally q.stop()
  }

  test("observe() collects pipeline metrics without a second pass") {
    // the metrics-observation surface: row counts and sums accumulate
    // during the ONE execution of the query, no extra scan
    val filtered = events.observe("metrics",
        count(lit(1)).as("rows"), sum($"value").as("total_value"))
      .filter($"event_type" === "purchase")
    // metrics live on the execution that actually ran — drive THIS plan
    val n = filtered.collect().length
    val metrics = filtered.queryExecution.observedMetrics("metrics")
    assert(metrics.getAs[Long]("rows") == events.count(),
      "observe above the filter must see every row in one pass")
    assert(n > 0)
  }

  test("streaming running-distinct users totals the batch distinct count") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF().toDF("user_id", "ts")
    val q = EventsStream.newUsersPerDay(df)
      .writeStream.outputMode("complete").format("memory")
      .queryName("newusers").start()
    try {
      // day ATTRIBUTION follows arrival order (documented), so feed in
      // ts order; the TOTAL is order-invariant and asserted exactly
      val rows = events.select($"user_id", $"ts")
        .as[(Long, Timestamp)].collect().sortBy(_._2.getTime).toSeq
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("newusers")
        .select($"day", $"new_users").as[(Timestamp, Long)].collect()
      assert(got.map(_._2).sum == events.select($"user_id").distinct().count())
      val eventDays = events.select(date_trunc("day", $"ts"))
        .distinct().as[Timestamp].collect().toSet
      assert(got.map(_._1).forall(eventDays), "emitted day outside event domain")
    } finally q.stop()
  }

  test("stateful transition stream equals the batch Markov table") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
    // idle timeout lifted above the corpus timespan: the 1h production
    // default evicts idle users mid-timeline BY DESIGN (state tracks the
    // active set), which batch — seeing all history at once — cannot
    // mirror; parity is defined over the no-eviction regime
    val q = EventsStream.transitionsStream(spark, df,
        idleMs = 365L * 24 * 3600 * 1000)
      .writeStream.outputMode("append").format("memory").queryName("trans").start()
    try {
      val rows = events.select($"user_id", $"ts", $"event_id", $"event_type")
        .as[(Long, Timestamp, Long, String)].collect()
        .sortBy(r => (r._2.getTime, r._3))
      // two batches split mid-timeline: transitions spanning the
      // boundary must come from the carried per-user state
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("trans")
        .groupBy($"from_type", $"to_type").count()
        .as[(String, String, Long)].collect()
        .map { case (f, t, n) => (f, t) -> n }.toMap
      val expect = operators.Temporal.eventTransitions(events)
        .select($"from_type", $"to_type", $"n")
        .as[(String, String, Long)].collect()
        .map { case (f, t, n) => (f, t) -> n }.toMap
      assert(got === expect)
      assert(got.values.sum ==
        events.count() - events.select($"user_id").distinct().count(),
        "every user contributes (events - 1) transitions")
    } finally q.stop()
  }

  test("transitions_streamed: real AvailableNow run reproduces the batch Markov table exactly") {
    val streamed = EventsStream.transitionsStreamedQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val batch = Temporal.eventTransitions(events).collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream/batch transition tables differ: ${streamed.size} vs ${batch.size}")
  }

  test("StreamedGate: two constructions of the same gate in one JVM leave ONE corpus copy") {
    // r12 verdict item 3: long-lived Verify/bench loops re-run streamed
    // registry entries; each construction writes a corpus-sized backlog
    // copy under the work root, and without the construction-time
    // cleanup those accumulate per run. The gate deletes THIS pid's
    // prior dirs for the same prefix, so after a double run exactly one
    // work dir (the live one) remains.
    def workDirs(): Seq[java.io.File] = {
      val root = new java.io.File(
        sys.env.getOrElse("GRAFT_STREAM_WORK_DIR", sys.props("java.io.tmpdir")))
      val pfx = s"graft_trans_stream_${ProcessHandle.current().pid()}_"
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith(pfx)).toSeq
    }
    val r1 = EventsStream.transitionsStreamedQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val after1 = workDirs()
    assert(after1.size == 1, s"expected 1 work dir after run 1, got $after1")
    val r2 = EventsStream.transitionsStreamedQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val after2 = workDirs()
    assert(after2.size == 1, s"expected 1 work dir after run 2, got $after2")
    assert(after2.head.getName != after1.head.getName,
      "run 2 must be a FRESH dir (run 1's copy deleted), not a reuse")
    assert(r1 == r2 && r1.nonEmpty, "both runs must produce the same table")
  }

  test("sessionize_streamed: real AvailableNow run reproduces the batch sessionizer exactly") {
    val streamed = EventsStream.sessionizeStreamedQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val batch = Temporal.sessionize(events)
      .select($"user_id", $"session_id", $"n_events",
        unix_millis($"session_start").as("session_start_ms"),
        unix_millis($"session_end").as("session_end_ms"),
        round($"sum_value" * 1000).cast("long").as("sum_value_milli"),
        (unix_millis($"session_end") - unix_millis($"session_start"))
          .as("duration_ms"))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream/batch session tables differ: ${streamed.size} vs ${batch.size}")
  }

  test("streamed gates on an empty events table: zero rows under the registry columns") {
    // the sf0.001 events layout with no rows: the flush gates have no
    // max(ts) to place a sentinel at, so they return the rolled-up
    // empty sink without a run
    val dir = Files.createTempDirectory("graft-empty-events").toString
    spark.read.parquet(s"$sf0001/events.parquet").limit(0)
      .write.parquet(s"$dir/events.parquet")
    Seq(
      EventsStream.transitionsStreamedQuery _ -> "from_type to_type n p",
      EventsStream.intervalsStreamedQuery _ ->
        "user_id n_intervals covered_us max_interval_us n_events",
      EventsStream.sessionizeStreamedQuery _ -> ("user_id session_id n_events " +
        "session_start_ms session_end_ms sum_value_milli duration_ms"),
      EventsStream.tumblingStreamedQuery _ -> "ws_ms event_type n_events sum_value_milli",
      EventsStream.dedupStreamedQuery _ -> "event_type n_events n_users sum_value_milli"
    ).foreach { case (gate, cols) =>
      val out = gate(spark, dir)
      assert(out.columns.mkString(" ") == cols)
      assert(out.collect().isEmpty, cols)
    }
  }
}
