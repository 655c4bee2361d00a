package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** Exact set-similarity joins (SimJoin) and the inverted-index search
  * family (Search). The heart of the suite is the LOSSLESSNESS check:
  * the prefix-filtered joins must equal an independent naive
  * implementation computed in plain Scala. */
class SearchSimJoinSpec extends SparkSpec {

  private def docsDF(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
  }

  /** Independent word-3-gram shingle sets (plain Scala, no Spark). */
  private def grams3(text: String): Set[String] = {
    val ws = "[a-z']+".r.findAllIn(text.toLowerCase).toList
    if (ws.size < 3) Set.empty
    else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  private val corpus = Seq(
    0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa", // dup of 0
    2L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda", // near dup
    3L -> "one two three four five six seven eight nine ten",
    4L -> "one two three four five six seven eight nine eleven", // near dup of 3
    5L -> "wholly unrelated content sits here sharing no grams with anything",
    6L -> "alpha beta gamma but then it veers off somewhere quite different")

  test("prefix-filtered exact jaccard join equals the naive all-pairs join") {
    val d = docsDF(corpus: _*)
    val got = SimJoin.jaccardJoin(d, Dedup.wordGrams, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sets = corpus.toMap.view.mapValues(grams3).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
      jac = (sa & sb).size.toDouble / (sa | sb).size
      if jac >= 0.5
    } yield (a, b) -> jac).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-6, s"pair $k jaccard")
    }
    // the dup pair must be there at 1.0, the unrelated docs nowhere
    assert(got((0L, 1L)) === 1.0)
    assert(!got.keys.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("exact join at the same threshold is a superset of LSH-verified pairs") {
    // LSH can lose pairs (no band collision); the exact join cannot.
    // Every minhash pair at j>=0.7 has true jaccard >= 0.7, so it MUST
    // appear in the exact j>=0.7 join — the exact-recall audit of the
    // approximate operator, on real test data.
    val d = Tables.documents(spark, sf0001)
    val lsh = Dedup.nearDupPairs(d, Dedup.wordGrams(d), Dedup.wordGrams, 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SimJoin.jaccardJoin(d, Dedup.wordGrams, 7, 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "fixture should contain near-dups")
    assert(lsh.subsetOf(exact),
      s"exact join lost LSH-confirmed pairs: ${lsh.diff(exact)}")
  }

  test("containment join finds a planted excerpt, directed the right way") {
    val container = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the quiet hills before nightfall settles in"
    val excerpt = "the quick brown fox jumps over the lazy dog"
    val d = docsDF(
      10L -> container,
      11L -> excerpt,
      12L -> "completely separate text with zero overlapping trigram content")
    val got = SimJoin.containmentJoin(d, Dedup.wordGrams, 4, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // excerpt ⊂ container: containment(11 → 10) = 1.0
    assert(got((11L, 10L)) === 1.0)
    // the container is NOT 80% contained in its own excerpt
    assert(!got.contains((10L, 11L)))
    assert(!got.keys.exists(p => p._1 == 12L || p._2 == 12L))
    // and the naive Scala recompute agrees pair-for-pair
    val sets = Map(10L -> grams3(container), 11L -> grams3(excerpt),
      12L -> grams3("completely separate text with zero overlapping trigram content"))
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a != b
      sa = sets(a); sb = sets(b) if sa.nonEmpty
      c = (sa & sb).size.toDouble / sa.size
      if c >= 0.8
    } yield (a, b) -> c).toMap
    assert(got.keySet === expected.keySet)
  }

  test("phrase search counts overlapping occurrences with 1-based positions") {
    val d = docsDF(
      0L -> "x y z q x y z",   // "x y z" at token positions 1 and 5
      1L -> "a x y z b",       // at position 2
      2L -> "no match in this document at all")
    val idx = Search.postings(d)
    // "x y z" occurs 3 times — strictly the most frequent trigram
    val top = Search.topPhrase(idx).collect()
    assert(top.map(_.getString(0)).toSeq === Seq("x y z"))
    val rows = Search.phraseSearch(idx).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq(
      (0L, "x y z", 2L, 1L, 5L),
      (1L, "x y z", 1L, 2L, 2L)))
  }

  test("keyword ranking matches an independent tf-idf recompute on real data") {
    val d = Tables.documents(spark, sf0001)
    val got = Search.keywordSearch(SharedIntermediates.postings(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent recompute in plain Scala, same IEEE double ops
    val toks = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> "[a-z']+".r.findAllIn(r.getString(1).toLowerCase).toList)
      .filter(_._2.nonEmpty)
    val tf = toks.flatMap { case (id, ws) => ws.map(w => (id, w)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = toks.map(_._1).distinct.size.toLong
    val qTerms = df.toSeq.sortBy { case (t, c) => (-c, t) }.slice(9, 12).map(_._1)
    val w = qTerms.map(t => t ->
      math.floor((1.0e6 * (n - df(t) + 0.5)) / (df(t) + 0.5)).toLong).toMap
    val scored = toks.map(_._1).map { id =>
      val hits = qTerms.filter(t => tf.contains((id, t)))
      val score = hits.map(t => tf((id, t)) * w(t)).sum
      (id, score, hits.size.toLong, hits.map(t => tf((id, t))).sum)
    }.filter(_._3 > 0)
    val expected = scored.sortBy { case (id, s, _, _) => (-s, id) }.take(20)
    assert(got.toSeq === expected.toSeq)
  }

  test("bm25 ranking matches an independent recompute on real data") {
    val d = Tables.documents(spark, sf0001)
    val got = Search.bm25Search(SharedIntermediates.postings(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val toks = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> "[a-z']+".r.findAllIn(r.getString(1).toLowerCase).toList)
      .filter(_._2.nonEmpty)
    val tf = toks.flatMap { case (id, ws) => ws.map(w => (id, w)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val dl = toks.map { case (id, ws) => id -> ws.size.toLong }.toMap
    val n = toks.length.toLong
    val avgdl = dl.values.sum.toDouble / n
    val qTerms = df.toSeq.sortBy { case (t, c) => (-c, t) }.slice(9, 12).map(_._1)
    def w(id: Long, t: String): Long = {
      val idf = math.log(((n - df(t) + 0.5) / (df(t) + 0.5)) + 1.0)
      val norm = (tf((id, t)) * 2.2) /
        (tf((id, t)) + (1.2 * (0.25 + (0.75 * (dl(id) / avgdl)))))
      math.floor((1.0e6 * idf) * norm).toLong
    }
    val expected = toks.map(_._1).map { id =>
      val hits = qTerms.filter(t => tf.contains((id, t)))
      (id, hits.map(t => w(id, t)).sum, hits.size.toLong,
        hits.map(t => tf((id, t))).sum)
    }.filter(_._3 > 0).sortBy { case (id, s, _, _) => (-s, id) }.take(20)
    assert(got.toSeq === expected.toSeq)
  }

  test("parameterized probes: OOV empty shape, single term, stopword query, long phrase") {
    val d = docsDF(
      0L -> "the cat sat on the mat while the dog slept",
      1L -> "the dog chased the cat around the red mat",
      2L -> "birds fly south in the winter every single year",
      3L -> "the the the the repeated stopword document text here")
    val idx = operators.Materialize.stage(Search.postings(d))

    // OOV-only queries: empty RESULT, correct SCHEMA, no error
    val oovK = Search.keywordSearchFor(idx, Seq("zzzzz", "qqqqq"))
    assert(oovK.count() == 0)
    assert(oovK.columns.toSeq ===
      Seq("doc_id", "score_micro", "n_terms_matched", "total_tf"))
    val oovB = Search.bm25SearchFor(idx, Seq("zzzzz"))
    assert(oovB.count() == 0)
    val oovP = Search.phraseSearchFor(idx, "totally unseen phrase")
    assert(oovP.count() == 0)
    assert(oovP.columns.toSeq ===
      Seq("doc_id", "phrase", "n_occurrences", "first_pos", "last_pos"))
    // a mixed known+OOV keyword query degrades to the known terms
    val mixed = Search.keywordSearchFor(idx, Seq("cat", "zzzzz")).collect()
    assert(mixed.map(_.getLong(0)).toSet === Set(0L, 1L))

    // single-term query: ranking is pure tf (one shared idf weight)
    val single = Search.keywordSearchFor(idx, Seq("dog")).collect()
      .map(r => r.getLong(0) -> r.getLong(3))
    assert(single.toMap === Map(0L -> 1L, 1L -> 1L))
    val singleB = Search.bm25SearchFor(idx, Seq("the")).collect()
    assert(singleB.map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L))

    // all-stopword query ("the" is in every doc): still well-defined —
    // every doc matches, the odds-idf weight collapses toward the floor
    // (odds = 0.5/(df+0.5) when df = n_docs) and pure tf decides the
    // deterministic ranking
    val stop = Search.keywordSearchFor(idx, Seq("the")).collect()
    assert(stop.length == 4)
    assert(stop.map(_.getLong(0)).toSeq ==
      stop.sortBy(r => (-r.getLong(1), r.getLong(0))).map(_.getLong(0)).toSeq,
      "deterministic (score desc, doc_id) order")

    // phrase lengths 1, 2 and 4: the generalized fold joins each leg
    val p1 = Search.phraseSearchFor(idx, "the").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(p1 === Map(0L -> 3L, 1L -> 3L, 2L -> 1L, 3L -> 4L))
    val p2 = Search.phraseSearchFor(idx, "the cat").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(p2.toSet === Set((0L, 1L, 1L), (1L, 1L, 4L)))
    val p4 = Search.phraseSearchFor(idx, "cat sat on the").collect()
    assert(p4.length == 1 && p4(0).getLong(0) == 0L &&
      p4(0).getLong(3) == 2L, s"got ${p4.toSeq}")
  }

  test("query text is lowercased by the index's rule, not the default locale") {
    val idx = Search.postings(docsDF(
      0L -> "this is in the city", 1L -> "it is in the inn", 2L -> "no match here"))
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      // under tr, "IS IN".toLowerCase is "ıs ın" (dotless ı)
      val lower = Search.phraseSearchFor(idx, "is in the").collect().toSeq
      assert(lower.map(_.getLong(0)) == Seq(0L, 1L))
      assert(Search.phraseSearchFor(idx, "IS IN THE").collect().toSeq == lower)
      assert(Search.bm25SearchFor(idx, Seq("IT", "INN")).collect().toSeq ==
        Search.bm25SearchFor(idx, Seq("it", "inn")).collect().toSeq)
    } finally java.util.Locale.setDefault(saved)
  }

  test("index stats equal an independent vocabulary recompute") {
    val d = docsDF(corpus: _*)
    val got = Search.indexStats(Search.postings(d), k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val toks = corpus.map { case (id, t) =>
      id -> "[a-z']+".r.findAllIn(t.toLowerCase).toList }
    val byTerm = toks.flatMap { case (id, ws) => ws.map(w => (w, id)) }
      .groupBy(_._1).view
      .mapValues(oc => (oc.map(_._2).distinct.size.toLong, oc.size.toLong)).toMap
    val expected = byTerm.toSeq.map { case (t, (df, tot)) => (t, df, tot) }
      .sortBy { case (t, df, _) => (-df, t) }.take(5)
    assert(got.toSeq === expected)
  }

  test("jaccard-join candidate pruning is integer-exact at threshold boundaries") {
    // n = 10 grams, tau = 1/2: prefix length = 10 - 5 + 1 = 6. A doc
    // sharing ONLY gram 7..10 of another's canonical order can still
    // reach jaccard 1/2 only if sets are small — construct the boundary:
    // two 4-gram docs sharing exactly 2 grams: j = 2/6 < 0.5 (excluded);
    // sharing 3: j = 3/5 >= 0.5 (included). The join must agree exactly.
    val d = docsDF(
      20L -> "a b c d e f",          // grams: abc bcd cde def (4)
      21L -> "a b c d x y z w",      // shares abc bcd — j = 2/8 no
      22L -> "a b c d e q",          // shares abc bcd cde — j = 3/5 yes
      23L -> "a b c d e f")          // dup of 20
    val got = SimJoin.jaccardJoin(d, Dedup.wordGrams, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((20L, 22L)))
    assert(got.contains((20L, 23L)))
    assert(!got.contains((20L, 21L)))
  }

  test("RRF fusion matches an independent recompute from the two legs") {
    val idx = operators.SharedIntermediates.postings(spark, sf0001)
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1)))   // doc_id, score_micro
        .sortBy { case (id, s) => (-s, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val kw = ranks(operators.Search.keywordSearch(idx))
    val bm = ranks(operators.Search.bm25Search(idx))
    val expected = (kw.keySet ++ bm.keySet).map { id =>
      val c = kw.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        bm.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L)
      id -> c
    }.toSeq.sortBy { case (id, c) => (-c, id) }.take(20)
    val got = operators.Search.hybridSearchRrf(idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expected)
  }

  test("threshold property sweep: all three joins equal the naive recompute " +
      "for random corpora across tau in 0.5..0.9") {
    // The shipped registry entries prove losslessness at fixed
    // operating points (0.7/0.8); this pins the PRUNING THEOREMS
    // themselves — prefix bound, length filter, positional filter,
    // k-prefix count-HAVING — across the threshold range on random
    // corpora with planted dups/excerpts. One ranked index per corpus
    // serves every (tau, mode) probe, like the production shape.
    val taus = Seq((1, 2), (3, 5), (7, 10), (4, 5), (9, 10))
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 12).map(i => s"w$i")
      def randDoc() =
        (0 until (3 + rnd.nextInt(13))).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      val base = (0L until 8L).map(i => i -> randDoc())
      val planted = Seq(
        8L -> base(0)._2,                                   // exact dup
        9L -> base(1)._2.split(" ").take(
          math.max(4, base(1)._2.split(" ").length / 2)).mkString(" ")) // excerpt
      val rows = base ++ planted
      val d = docsDF(rows: _*)
      val idx = operators.Materialize.stage(
        SimJoin.rankedGramIndex(d, Dedup.wordGrams))
      val sets = rows.toMap.view.mapValues(grams3).toMap
      for ((num, den) <- taus) {
        val tau = num.toDouble / den
        // jaccard: undirected pairs, double compare exactly as verify()
        val gotJ = SimJoin.jaccardJoinFromIndex(idx, num, den).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val expJ = (for {
          a <- sets.keys; b <- sets.keys if a < b
          sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
          s = (sa & sb).size.toDouble / (sa ++ sb).size if s >= tau
        } yield (a, b) -> s).toMap
        assert(gotJ.keySet === expJ.keySet,
          s"jaccard seed=$seed tau=$num/$den: got=${gotJ.keySet} exp=${expJ.keySet}")
        expJ.foreach { case (k, v) =>
          assert(math.abs(gotJ(k) - v) < 1e-6, s"jaccard value $k seed=$seed") }
        // containment: directed (contained -> container)
        val gotC = SimJoin.containmentJoinFromIndex(idx, num, den).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val expC = (for {
          a <- sets.keys; b <- sets.keys if a != b
          sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
          s = (sa & sb).size.toDouble / sa.size if s >= tau
        } yield (a, b) -> s).toMap
        assert(gotC.keySet === expC.keySet,
          s"containment seed=$seed tau=$num/$den: got=${gotC.keySet} exp=${expC.keySet}")
        // cosine: undirected, integer squared accept predicate
        val gotX = SimJoin.cosineJoinFromIndex(idx, num, den).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val expX = (for {
          a <- sets.keys; b <- sets.keys if a < b
          sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
          ni = (sa & sb).size.toLong
          if ni * ni * den * den >= sa.size.toLong * sb.size * num * num
        } yield (a, b) -> ni / math.sqrt(sa.size.toLong * sb.size)).toMap
        assert(gotX.keySet === expX.keySet,
          s"cosine seed=$seed tau=$num/$den: got=${gotX.keySet} exp=${expX.keySet}")
      }
    }
  }

  test("cosine join equals the naive recompute and contains the jaccard join") {
    val d = docsDF(corpus: _*)
    def cosJoin(num: Int, den: Int) =
      SimJoin.cosineJoinFromIndex(
        operators.Materialize.stage(SimJoin.rankedGramIndex(d, Dedup.wordGrams)),
        num, den).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = cosJoin(7, 10)
    val sets = corpus.toMap.view.mapValues(grams3).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
      ni = (sa & sb).size.toLong
      // the integer accept predicate, exactly as the operator computes it
      if ni * ni * 100 >= sa.size.toLong * sb.size * 49
    } yield (a, b) -> ni / math.sqrt(sa.size.toLong * sb.size)).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-6, s"pair $k cosine")
    }
    // cosine >= jaccard pointwise, so at equal tau the cosine join is a
    // superset of the jaccard join (the registry comment's claim)
    val jac = SimJoin.jaccardJoin(d, Dedup.wordGrams, 7, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.subsetOf(got.keySet))
    assert(got((0L, 1L)) === 1.0)
  }

  test("mmr_rerank: redundant runner-up is demoted below a diverse lower-ranked doc") {
    import spark.implicits._
    // doc 0: most relevant. doc 1: near-copy of doc 0 (same grams,
    // one extra query term so it ranks #2 on relevance... actually
    // ranks by BM25; what matters: 1 is gram-identical to 0, 2 is
    // disjoint). Greedy round 2 must skip 1 (sim penalty 10^6) and
    // take 2; round 3 takes the leftover 1.
    val docs = Seq(
      (0L, "data query spark data query spark data query spark"),
      (1L, "data query spark data query spark data query"),
      (2L, "wholly different words about nothing shared here data")
    ).toDF("doc_id", "text")
    val idx = Search.postings(docs)
    val out = Search.mmrRerank(docs, idx,
      Seq("data", "query", "spark"), kSel = 3).collect()
    assert(out.map(r => (r.getAs[Long]("pick"), r.getAs[Long]("doc_id")))
      .toSeq == Seq((1L, 0L), (2L, 2L), (3L, 1L)),
      s"greedy order wrong: ${out.toSeq}")
    // the demoted near-copy carries the full similarity penalty, the
    // diverse pick carries none
    val byPick = out.map(r => r.getAs[Long]("pick") -> r).toMap
    assert(byPick(2L).getAs[Long]("maxsim_ppm") == 0L,
      s"diverse pick penalized: ${byPick(2L)}")
    assert(byPick(3L).getAs[Long]("maxsim_ppm") > 800000L,
      s"near-copy not penalized: ${byPick(3L)}")
    // registry-shape invariants on the real corpus
    val real = Search.mmrRerank(
      Tables.documents(spark, sf0001),
      SharedIntermediates.postings(spark, sf0001),
      Seq("data", "query", "spark", "nosuchword"),
      dl = Some(SharedIntermediates.postingsDocLengths(spark, sf0001)))
      .collect()
    assert(real.map(_.getAs[Long]("pick")).toSeq == (1L to 5L),
      s"picks must be 1..5: ${real.toSeq}")
    assert(real.map(_.getAs[Long]("doc_id")).distinct.length == 5)
  }

  test("bm25_search_dedup: one result per cluster, each the cluster's best scorer") {
    val idx = SharedIntermediates.postings(spark, sf0001)
    val clusters = SharedIntermediates.textClusters(spark, sf0001)
    val dl = SharedIntermediates.postingsDocLengths(spark, sf0001)
    val terms = Seq("data", "query", "spark", "nosuchword")
    val dedup = Search.bm25SearchDedupFor(idx, terms, clusters, 20, Some(dl))
      .collect()
    assert(dedup.nonEmpty)
    // page diversity: no two served results share a cluster
    val clusterIds = dedup.map(_.getAs[Long]("cluster_id"))
    assert(clusterIds.distinct.length == clusterIds.length,
      "served page repeats a cluster")
    // parity with the plain ranking on singleton clusters, and
    // best-of-cluster on collapsed ones: every served doc must score
    // >= any clustermate in the full plain top-k
    val plain = Search.bm25SearchFor(idx, terms, 1000, Some(dl)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_micro")).toMap
    val clusterOf = clusters.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    dedup.foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      val cid = r.getAs[Long]("cluster_id")
      val mates = plain.keys.filter(d2 =>
        clusterOf.getOrElse(d2, d2) == cid)
      assert(mates.forall(m => plain(doc) > plain(m) ||
          (plain(doc) == plain(m) && doc <= m)),
        s"doc $doc is not its cluster $cid's best scorer")
      assert(r.getAs[Long]("n_collapsed") >= mates.size,
        s"n_collapsed undercounts cluster $cid's scored members")
    }
  }
}
