package graft

import graft.operators.MlEval
import org.apache.spark.sql.Row

/** Hand-computed fixed points for the model-evaluation suite. The
  * md5 split is data-dependent, so fixtures pick their ids by
  * computing the same bucket arithmetic in-process first. */
class MlEvalSpec extends SparkSpec {
  import spark.implicits._

  private object MlEvalSpecFixtures {
    def ev(rows: Seq[(Long, String)]) =
      rows.toDF("user_id", "event_type")
  }

  /** The 0-255 md5 bucket of a key — the Exact.md5Bucket
    * arithmetic, recomputed independently. */
  private def bucket(id: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def nib(c: Char) = if (c >= 'a') c - 87 else c - '0'
    nib(hex(0)) * 16 + nib(hex(1))
  }

  private def idsWhere(p: Int => Boolean, n: Int, from: Long = 0L): Seq[Long] =
    Iterator.iterate(from)(_ + 1).filter(id => p(bucket(id))).take(n).toSeq

  private def trainIds(n: Int) = idsWhere(_ < 204, n)
  private def testIds(n: Int) = idsWhere(_ >= 230, n)

  test("naive bayes: separable two-language fixture classifies the diagonal") {
    val tr = trainIds(4)
    val te = testIds(2)
    val docs = Seq(
      (tr(0), "x x x x", "aa"), (tr(1), "x x x x", "aa"),
      (tr(2), "y y y y", "bb"), (tr(3), "y y y y", "bb"),
      (te(0), "x x", "aa"), (te(1), "y", "bb"))
      .toDF("doc_id", "text", "lang")
    val got = MlEval.naiveBayesLang(docs).collect().toSeq
    assert(got == Seq(Row("aa", "aa", 1L), Row("bb", "bb", 1L)),
      s"separable fixture must classify both test docs correctly: $got")
  }

  test("naive bayes: an unseen-token doc ties and breaks to the smaller lang") {
    // equal priors (2 docs each), equal totals (T=8 each, V=2): a test
    // doc of only unseen tokens scores prior + n·(0 − ln4(10)) for BOTH
    // langs — an exact integer tie, broken by lang ASC
    val tr = trainIds(4)
    val te = testIds(1)
    val docs = Seq(
      (tr(0), "x x x x", "aa"), (tr(1), "x x x x", "aa"),
      (tr(2), "y y y y", "bb"), (tr(3), "y y y y", "bb"),
      (te(0), "z z z", "bb"))
      .toDF("doc_id", "text", "lang")
    val got = MlEval.naiveBayesLang(docs).collect().toSeq
    assert(got == Seq(Row("bb", "aa", 1L)),
      s"exact tie must break to the lexicographically smaller lang: $got")
  }

  test("auc: perfect separation gives exactly 1e6; all-tied gives exactly 500000") {
    val perfect = Seq(
      (1L, "the the the", "en"), (2L, "the of and", "en"),
      (3L, "zzz qqq", "de"), (4L, "www vvv", "fr"))
      .toDF("doc_id", "text", "lang")
    val r1 = MlEval.aucLangId(perfect).collect()
    assert(r1.toSeq == Seq(Row(2L, 2L, 8L, 1000000L)),
      s"perfect separation: ${r1.toSeq}")
    val tied = Seq(
      (1L, "the", "en"), (2L, "the", "en"),
      (3L, "the", "de"), (4L, "the", "fr"))
      .toDF("doc_id", "text", "lang")
    val r2 = MlEval.aucLangId(tied).collect()
    assert(r2.toSeq == Seq(Row(2L, 2L, 4L, 500000L)),
      s"all-tied scores must give AUC exactly 1/2: ${r2.toSeq}")
  }

  test("auc: single-class input degenerates to NULL auc") {
    val onlyEn = Seq((1L, "the the", "en"), (2L, "of of", "en"))
      .toDF("doc_id", "text", "lang")
    // both docs score 1e6 → one cell: r1d = 2·(0+2+1) = 6 = n1(n1+1),
    // so U1 is exactly 0 when there are no negatives to dominate
    val r = MlEval.aucLangId(onlyEn).collect()
    assert(r.toSeq == Seq(Row(2L, 0L, 0L, null)),
      s"n_neg = 0 must NULL the AUC: ${r.toSeq}")
  }

  test("confusion metrics: balanced 2x2 fixture gives exact halves and a zero MCC") {
    val docs = Seq(
      (1L, "the the the", "en"), // p=1, y=1 → TP
      (2L, "zzz zzz", "en"),     // p=0, y=1 → FN
      (3L, "the zzz", "de"),     // p=1, y=0 → FP
      (4L, "zzz", "fr"))         // p=0, y=0 → TN
      .toDF("doc_id", "text", "lang")
    val got = MlEval.langIdConfusionMetrics(docs).collect()
    // tp·tn = fp·fn = 1 → MCC exactly 0: sign 0, NULL ladder
    assert(got.toSeq == Seq(Row(1L, 1L, 1L, 1L,
      500000L, 500000L, 500000L, 0L, null)), s"got ${got.toSeq}")
  }

  test("confusion metrics: perfect classifier gives MCC ladder exactly 0 (= ln 1)") {
    val docs = Seq(
      (1L, "the the", "en"), (2L, "the of", "en"),
      (3L, "zzz", "de"), (4L, "qqq", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = MlEval.langIdConfusionMetrics(docs).collect()
    // 100·(2·ln4(4) − ln4(16)) = 100·(27726 − 27726) = 0
    assert(got.toSeq == Seq(Row(2L, 0L, 0L, 2L,
      1000000L, 1000000L, 1000000L, 1L, 0L)), s"got ${got.toSeq}")
  }

  test("brier decomposition: perfectly calibrated coin-flip hour decomposes exactly") {
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:15:00")
    val tr = trainIds(2)
    val te = testIds(2)
    val events = Seq(
      (tr(0), ts(1), "purchase"), (tr(1), ts(1), "view"),
      (te(0), ts(1), "purchase"), (te(1), ts(1), "view"))
      .toDF("event_id", "ts", "event_type")
    val got = MlEval.brierDecomposition(events).collect()
    // conf = acc = b = 500000: brier = unc = 0.25 (250,000,000 nano),
    // reliability = resolution = 0; all test mass scored
    assert(got.toSeq == Seq(Row(2L, 0L, 250000000L, 0L, 0L, 250000000L)),
      s"got ${got.toSeq}")
  }

  test("lift deciles: separable fixture puts all positives in decile 0 at lift 2x") {
    val docs = Seq(
      (1L, "the", "en"), (2L, "of", "en"),
      (3L, "zzz", "de"), (4L, "qqq", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = MlEval.scoreLiftDeciles(docs).collect()
    // cells: score 1e6 (c=2, all pos) then 0 (c=2, none). N=4, P=2.
    // top cell → decile 0, lift (1e6·2·4)/(2·2) = 2e6, capture 1e6;
    // zero cell → decile (10·2) div 4 = 5, lift 0, capture stays 1e6
    assert(got.toSeq == Seq(
      Row(0L, 2L, 2L, 2000000L, 1000000L),
      Row(5L, 2L, 0L, 0L, 1000000L)), s"got ${got.toSeq}")
  }

  test("srm: balanced assignment passes; 100/50 flags with the exact ladder") {
    import MlEvalSpecFixtures.ev
    val balanced = ev((0L until 20L).map(u => (u, "view")))
    val r1 = MlEval.srmCheck(balanced).collect()
    assert(r1.toSeq == Seq(Row(10L, 10L, 0L, null)),
      s"10/10 must not flag and has no ladder (n_a = n_b): ${r1.toSeq}")
    // 100 even users vs 50 odd: chi2 = 50^2/150 = 16.7 > 3.84 → flag;
    // ladder 100·(2·ln4(50) − ln4(150)) = 100·(78240 − 50106)
    val skewed = ev((0L until 200L by 2L).map(u => (u, "view")) ++
      (1L until 100L by 2L).map(u => (u, "view")))
    val r2 = MlEval.srmCheck(skewed).collect()
    assert(r2.toSeq == Seq(Row(100L, 50L, 1L, 2813400L)), s"got ${r2.toSeq}")
  }

  test("ab_mde: 2v2 users with pooled 50% conversion pins the exact ladder") {
    import MlEvalSpecFixtures.ev
    val events = ev(Seq((0L, "purchase"), (2L, "view"),
      (1L, "purchase"), (3L, "view")))
    val got = MlEval.abMde(events).collect()
    // ln MDE² ladder: 100·(ln4(78490) − ln4(1e4) + ln4(4) − ln4(16))
    //              = 100·(112707 − 92103 + 13863 − 27726) = 674100
    assert(got.toSeq == Seq(Row(2L, 2L, 2L, 674100L)), s"got ${got.toSeq}")
  }

  test("cuped: perfectly correlated per-user counts give theta = rho^2 = 1 (ladder 0)") {
    import MlEvalSpecFixtures.ev
    val events = ev(
      Seq.fill(1)((0L, "click")) ++ Seq.fill(1)((0L, "purchase")) ++
      Seq.fill(2)((1L, "click")) ++ Seq.fill(2)((1L, "purchase")) ++
      Seq.fill(3)((2L, "click")) ++ Seq.fill(3)((2L, "purchase")))
    val got = MlEval.cupedTheta(events).collect()
    // moments: n=3, Sx=Sy=6, Sxx=Sxy=Syy=14 → num=denx=deny=6
    assert(got.toSeq == Seq(Row(3L, 1L, 0L, 0L)), s"got ${got.toSeq}")
  }

  test("cuped: anti-correlated covariate gives sign -1 with exact ladders") {
    import MlEvalSpecFixtures.ev
    // users (x, y): (0, 2), (2, 0) → n=2, Sx=2, Sy=2, Sxx=4, Sxy=0,
    // Syy=4 → num=-4, denx=4, deny=4 → theta=-1, rho^2=1 (ladders 0)
    val events = ev(
      Seq.fill(2)((0L, "purchase")) ++ Seq.fill(2)((1L, "click")))
    val got = MlEval.cupedTheta(events).collect()
    assert(got.toSeq == Seq(Row(2L, -1L, 0L, 0L)), s"got ${got.toSeq}")
  }

  test("k-anonymity: one size-3 class and one singleton give exact shares") {
    val docs = Seq(
      ("en", "s1", 150L), ("en", "s1", 160L), ("en", "s1", 199L),
      ("de", "s2", 50L))
      .toDF("lang", "source", "n_chars")
    val got = MlEval.kAnonymityDocs(docs).collect()
    // both classes are below k=5 → all 4 docs below-k; 1 unique record
    assert(got.toSeq == Seq(Row(4L, 2L, 1L, 4L, 1L, 1000000L, 250000L)),
      s"got ${got.toSeq}")
  }

  test("leave-one-source-out: removing each source shifts the mean by the exact delta") {
    val docs = Seq(
      ("s1", 100L), ("s1", 200L), ("s2", 600L))
      .toDF("source", "n_chars")
    val got = MlEval.looSourceInfluence(docs).collect()
    // full mean 300; without s1: 600 (delta +300000 milli); without
    // s2: 150 (delta -150000 milli)
    assert(got.toSeq == Seq(
      Row("s1", 2L, 300000L, 600000L, 300000L),
      Row("s2", 1L, 300000L, 150000L, -150000L)), s"got ${got.toSeq}")
  }

  test("calibration: exact ece over scored bins; a train-uncovered hour is COUNTED") {
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    val tr = trainIds(4)
    val te = testIds(4)
    val events = Seq(
      // hour 1: train rate 1/2, test rate 1/2 → gap 0
      (tr(0), ts(1), "purchase"), (tr(1), ts(1), "view"),
      (te(0), ts(1), "purchase"), (te(1), ts(1), "view"),
      // hour 2: train rate 0/2, test rate 1/1 → gap 1e6 on 1 test event
      (tr(2), ts(2), "view"), (tr(3), ts(2), "click"),
      (te(2), ts(2), "purchase"),
      // hour 3: NO train events → the test event must land in
      // n_test_unscored, not silently vanish (review finding)
      (te(3), ts(3), "purchase"))
      .toDF("event_id", "ts", "event_type")
    val got = MlEval.calibrationEce(events).collect()
    // scored mass 3, unscored 1, 2 bins;
    // ece = (2·0 + 1·1e6) div 3 = 333333; max gap 1e6
    assert(got.toSeq == Seq(Row(3L, 1L, 2L, 333333L, 1000000L)),
      s"hand ECE mismatch: ${got.toSeq}")
  }

  test("srm: an empty variant is the extreme mismatch and must flag, not NULL out") {
    import MlEvalSpecFixtures.ev
    val allEven = ev((0L until 40L by 2L).map(u => (u, "view")))
    val got = MlEval.srmCheck(allEven).collect()
    // n_a=20, n_b=0: 100·400 > 384·20 → flag; ladder 100·ln4(20)
    assert(got.toSeq == Seq(Row(20L, 0L, 1L, 2995700L)),
      s"empty variant must flag: ${got.toSeq}")
  }
}
