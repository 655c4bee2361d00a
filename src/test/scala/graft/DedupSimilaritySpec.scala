package graft

import graft.operators.{Dedup, Materialize, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Dedup + similarity invariants on sf0.001 (planted near-dups). */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sf0001)
  lazy val emb = Tables.embeddings(spark, sf0001)

  test("exact dedup: one row per distinct text, keepers unique") {
    val d = Dedup.exactDedup(docs)
    assert(d.count() == docs.select("text").distinct().count())
    assert(d.select("keeper").distinct().count() == d.count())
  }

  private def wordNearDups(threshold: Double) =
    Dedup.nearDupPairs(docs, Dedup.wordGrams(docs), Dedup.wordGrams, threshold)

  test("minhash LSH finds the planted near-dup pairs (jaccard >= 0.7)") {
    val pairs = wordNearDups(0.7)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length >= 20, s"expected ≥20 planted pairs, got ${pairs.length}")
    assert(pairs.forall(_._3 >= 0.7))
    assert(pairs.forall(p => p._1 < p._2), "pairs must be ordered doc_a < doc_b")
  }

  test("production-hash band table: ANSI-safe, 4 bands/doc, exact twins collide") {
    // the affine-permutation predecessor raised ARITHMETIC_OVERFLOW
    // under Spark 4's default ANSI mode on the first full-range gram
    // hash — this spec exists so the production path can never again
    // reach the 1 GB flagship untested (it is not oracle-gated: DuckDB
    // has no xxhash64 twin)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "spec must run under the default ANSI mode to catch overflow")
    val bands = Dedup.cappedBands(Dedup.wordGrams(docs), Dedup.MaxBandBucket,
      table = Dedup.fastBandTable)
    val perDoc = bands.groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(perDoc.nonEmpty)
    assert(perDoc.forall(_._2 <= 4), "at most 4 bands per doc")
    // identical gram sets ⇒ identical signatures ⇒ all 4 bands collide:
    // a verbatim twin of doc 0 must share every band with it
    val d0 = docs.filter(col("doc_id") === 0L)
    val twin = d0.withColumn("doc_id", lit(1000000L))
    val tb = Dedup.fastBandTable(Dedup.wordGrams(d0.union(twin)))
    val byDoc = tb.as[(Long, Long)].collect().groupBy(_._1)
    assert(byDoc(0L).map(_._2).sorted.sameElements(byDoc(1000000L).map(_._2).sorted),
      "verbatim twin must collide on every band")
    // determinism across reruns
    val again = Dedup.fastBandTable(Dedup.wordGrams(d0.union(twin)))
      .as[(Long, Long)].collect()
    assert(again.sorted.sameElements(tb.as[(Long, Long)].collect().sorted))
  }

  test("bruteForceTopK's two plan shapes produce identical rankings") {
    // the size-conditional shapes (single window vs bucketed two-stage)
    // must be result-identical — force each via corpusCount and compare
    val small = Similarity.bruteForceTopK(emb, 6, 7,
      corpusCount = Some(1L)) // < BruteBucketMin → single window
    val bucketed = Similarity.bruteForceTopK(emb, 6, 7,
      corpusCount = Some(Similarity.BruteBucketMin)) // → two-stage
    val a = small.as[(Long, Long, Long, Double)].collect().toSeq
    val b = bucketed.as[(Long, Long, Long, Double)].collect().toSeq
    assert(a == b, "bucketed two-stage top-k diverges from the single window")
    assert(a.nonEmpty)
    // and the shapes genuinely differ: the bucketed plan has two windows
    val nw = bucketed.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("Window"))
    val nw1 = small.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("Window"))
    assert(nw > nw1, s"expected extra window stage (got $nw1 vs $nw)")
  }

  test("LSH bucket candidates are a subset of brute-force ranking") {
    val bf = Similarity.bruteForceTopK(emb, 4, 50)
      .select("query_id", "cand_id", "cos_sim")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Similarity.lshTopK(emb, 4, 3)
      .select("query_id", "cand_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    // every LSH-scored cosine must equal the brute-force cosine when present
    lsh.foreach { case (q, cId, cos) =>
      bf.get((q, cId)).foreach(b => assert(b == cos, s"cosine mismatch for ($q,$cId)"))
    }
  }

  test("frequent-band cap: a viral band cannot produce quadratic candidates") {
    // 80 identical docs (> MaxBandBucket=64) share every band → without a
    // cap the self-join would emit 80*79/2 = 3160 pairs in one bucket; the
    // cap drops those bands entirely. A 2-doc cluster stays under the cap
    // and is still found.
    val viral = (0L until 80L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val small = Seq((100L, "entirely different pair text alpha beta gamma"),
                    (101L, "entirely different pair text alpha beta gamma"))
    val d = (viral ++ small).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(d, Dedup.wordGrams(d), Dedup.wordGrams, 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((100L, 101L)),
      s"expected only the small cluster pair, got ${pairs.length} pairs")
  }

  test("cluster resolution: chains resolve to min-id components") {
    // pairs (1,2),(2,3) form a 2-hop chain — label 1 must PROPAGATE
    // through 2 to 3 (one iteration is not enough); (10,11) is separate
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClusters(pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)), s"got $got")
  }

  test("star contraction resolves a chain-shaped component in O(log d) rounds") {
    // 64-node path graph: diameter 63, the adversarial case for label
    // propagation (one shuffle round per hop). Large-star/small-star
    // must both (a) label every node with the component min and (b)
    // converge in logarithmically few rounds.
    val n = 64L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.connectedComponents(chain)
    assert(labels.count() == n)
    assert(labels.filter($"label" =!= 0L).count() == 0,
      "every chain node must resolve to component min 0")
    assert(rounds <= 12, s"expected O(log 63) rounds, got $rounds")
  }

  test("star contraction does not stop early on multi-parent states") {
    // Regression for the round-4 ADVICE counter-examples: a
    // side-disjointness-only fixpoint test passes these inputs at round
    // 0 (child and parent sets disjoint) even though an intermediate
    // node still has TWO parents and the component is unresolved. The
    // fixpoint test must also require out-degree 1 per child.
    // Path 1-5-2 orients to {(5,1),(5,2)}: sides disjoint, node 5
    // double-parented.
    val p1 = Seq((1L, 5L), (5L, 2L)).toDF("doc_a", "doc_b")
    val (l1, _) = Dedup.connectedComponents(p1)
    val got1 = l1.as[(Long, Long)].collect().toSet
    assert(got1 == Set((1L, 1L), (2L, 1L), (5L, 1L)), s"got $got1")
    // Alternating high/low path 1-7-5-9-2: after one smallStar the edge
    // set {(5,1),(7,1),(5,2),(9,2)} is again side-disjoint but
    // under-merged (node 5 parented by both 1 and 2).
    val p2 = Seq((1L, 7L), (7L, 5L), (5L, 9L), (9L, 2L)).toDF("doc_a", "doc_b")
    val (l2, _) = Dedup.connectedComponents(p2)
    val got2 = l2.as[(Long, Long)].collect().toSet
    assert(got2 == Set(1L, 2L, 5L, 7L, 9L).map(_ -> 1L), s"got $got2")
  }

  test("cluster resolution on real near-dup pairs: labels are component minima") {
    val pairs = wordNearDups(0.7)
    val clusters = Dedup.nearDupClusters(pairs)
    val lab = clusters.select("doc_id", "cluster_id")
      .as[(Long, Long)].collect().toMap
    // every pair's two docs share a cluster, and each cluster id is a
    // member of its own cluster (the canonical keeper)
    pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().foreach {
      case (a, b) => assert(lab(a) == lab(b), s"pair ($a,$b) split across clusters")
    }
    lab.values.toSet.foreach { (c: Long) => assert(lab(c) == c, s"keeper $c not self-labeled") }
  }

  test("ensemble dedup: every pair from either signal shares a cluster") {
    val clusters = Dedup.ensembleDedupClusters(docs, emb, 0.7, 0.35)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val tp = wordNearDups(0.7).select("doc_a", "doc_b").as[(Long, Long)].collect()
    val ep = Similarity.embeddingNearDup(emb, 0.35)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(tp.nonEmpty && ep.nonEmpty, "both signals should fire on sf0.001")
    (tp ++ ep).foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"signal pair ($a,$b) split across clusters")
    }
    // the ensemble graph's nodes are exactly the union of signal nodes
    val nodes = (tp ++ ep).flatMap(p => Seq(p._1, p._2)).toSet
    assert(clusters.keySet == nodes)
  }

  test("cluster resolution completes under an injected task failure (O16 for dedup)") {
    // the reference re-queues a timed-out chunk (coordinator timeout
    // loop); the Spark analogue is task retry under maxFailures. The
    // iterative CC path layers localCheckpoint rounds over the failing
    // source, so this proves retry works through the shared-build shape
    // too, not just a flat map stage.
    val pairs = wordNearDups(0.7)
    val expect = Dedup.nearDupClusters(pairs)
      .as[(Long, Long, Long)].collect().toSet
    DedupFailOnce.fired.set(false)
    val flaky = spark.createDataFrame(pairs.rdd.mapPartitions { it =>
      if (!DedupFailOnce.fired.getAndSet(true))
        throw new RuntimeException("injected first-attempt failure")
      it
    }, pairs.schema)
    val got = Dedup.nearDupClusters(flaky)
      .as[(Long, Long, Long)].collect().toSet
    assert(DedupFailOnce.fired.get(), "injection never executed")
    assert(got == expect, "retry produced different clusters")
  }

  test("incremental near-dup equals the full pair set restricted to the increment") {
    val full = wordNearDups(0.7).as[(Long, Long, Double)].collect().toSet
    val split = math.floor(docs.count().toDouble * 0.9).toLong
    val inc = Dedup.nearDupPairsIncremental(docs, Dedup.wordGrams(docs),
      Dedup.wordGrams, split, 0.7).as[(Long, Long, Double)].collect().toSet
    assert(inc == full.filter(_._2 >= split),
      s"incremental diverges: extra=${inc -- full}, missing=${full.filter(_._2 >= split) -- inc}")
    // non-vacuity: the increment actually contains near-dup pairs, and
    // the corpus-only pairs were actually excluded
    assert(inc.nonEmpty, "no pairs touch the increment at sf0.001")
    assert(full.exists(_._2 < split), "no corpus-only pairs to exclude")
  }

  test("ivf-pq: bounded ranks, refined cosines in range, self-dup lands on top") {
    val pq = Similarity.ivfPqTopK(emb, 8, 16, 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(pq.nonEmpty)
    pq.groupBy(_._1).foreach { case (q, rows) =>
      val rnks = rows.map(_._2).sorted
      assert(rnks.sameElements(1L to rnks.length), s"ranks not dense for query $q")
      assert(rnks.length <= 3)
      // refine invariant: the exact re-rank orders by true cosine
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"refined cosines not descending for query $q")
    }
    assert(pq.forall(r => r._4 >= -1.0 && r._4 <= 1.0),
      "refined cosine out of range")
    // determinism: integer ADC shortlist + rounded exact cosines → a
    // rerun is bit-identical
    val again = Similarity.ivfPqTopK(emb, 8, 16, 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(pq.sorted.sameElements(again.sorted), "non-deterministic result")
    // recall sanity: an identical-embedding duplicate shares the query's
    // home cell AND its codes, so it survives the ADC shortlist (its
    // quantized distance is the provable cell minimum — the query's own
    // quantization residual) and the exact refine puts it at cosine 1.0,
    // rank 1.
    val twin = emb.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val withTwin = emb.union(twin)
    val t = Similarity.ivfPqTopK(withTwin, 8, 1, 3)
      .as[(Long, Long, Long, Double)].collect()
    val q0 = t.filter(_._1 == 0L)
    val twinRow = q0.find(_._3 == 1000000L)
    assert(twinRow.isDefined, s"twin missing from query 0's top-3: ${q0.toSeq}")
    assert(twinRow.get._2 == 1L && twinRow.get._4 == 1.0,
      s"twin not refined to rank 1 at cosine 1.0: ${q0.toSeq}")
  }

  test("ivf-pq multiprobe: dense ranks, deterministic, twin at rank 1, home cell = rank-1 probe") {
    // nprobe=2 battery mirroring the nprobe=1 test: the probe list is
    // built from the same rounded-cosine/cent-id ranking whose rank 1
    // is the assignment argmax, so the nprobe=1 call through the NEW
    // generalized path must equal the registry's historical results
    // (the sf0.01 oracle pins this; here we pin the invariants at 2).
    val pq2 = Similarity.ivfPqTopK(emb, 8, 16, 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(pq2.nonEmpty)
    pq2.groupBy(_._1).foreach { case (q, rows) =>
      val rnks = rows.map(_._2).sorted
      assert(rnks.sameElements(1L to rnks.length), s"ranks not dense for query $q")
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"refined cosines not descending for query $q")
    }
    val again = Similarity.ivfPqTopK(emb, 8, 16, 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(pq2.sorted.sameElements(again.sorted), "non-deterministic result")
    // identical-embedding twin: shares the query's home cell (= rank-1
    // probe cell), codes, and ADC minimum → refine puts it at rank 1
    val twin = emb.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val t = Similarity.ivfPqTopK(emb.union(twin), 8, 1, 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
    val twinRow = t.filter(_._1 == 0L).find(_._3 == 1000000L)
    assert(twinRow.exists(r => r._2 == 1L && r._4 == 1.0),
      s"twin not at rank 1 cosine 1.0 under multiprobe: ${t.toSeq}")
  }

  test("ivf-int8: dense ranks, true-cosine ordering, deterministic, twin at rank 1") {
    val i8 = Similarity.ivfInt8TopK(emb, 8, 16, 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(i8.nonEmpty)
    i8.groupBy(_._1).foreach { case (q, rows) =>
      val rnks = rows.map(_._2).sorted
      assert(rnks.sameElements(1L to rnks.length), s"ranks not dense for query $q")
      // the refine stage orders by TRUE cosine, not the int8 proxy
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"refined cosines not descending for query $q")
    }
    assert(i8.forall(r => r._4 >= -1.0 && r._4 <= 1.0), "cosine out of range")
    val again = Similarity.ivfInt8TopK(emb, 8, 16, 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(i8.sorted.sameElements(again.sorted), "non-deterministic result")
    // identical-embedding twin: same home cell, identical int8 vector →
    // quantized cosine 1.0 tops the shortlist, exact refine rank 1
    val twin = emb.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val t = Similarity.ivfInt8TopK(emb.union(twin), 8, 1, 3)
      .as[(Long, Long, Long, Double)].collect()
    val twinRow = t.filter(_._1 == 0L).find(_._3 == 1000000L)
    assert(twinRow.exists(r => r._2 == 1L && r._4 == 1.0),
      s"twin not at rank 1 cosine 1.0: ${t.toSeq}")
  }

  test("semantic dedup: total partition, one self-similar rep per cell, dups cleared") {
    val sd = Similarity.semanticDedup(emb, 8, 0.35)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    // every vector classified exactly once
    assert(sd.map(_._1).toSet == emb.select("vec_id").as[Long].collect().toSet)
    assert(sd.length == sd.map(_._1).distinct.length)
    // exactly one representative per cell; a rep is its own nearest
    // neighbor (rounded cosine 1.0) and never flagged
    val reps = sd.filter(r => r._1 == r._3)
    assert(reps.map(_._2).toSet == sd.map(_._2).toSet, "a cell lacks a rep")
    reps.foreach { r =>
      assert(r._4 == 1.0, s"rep ${r._1} self-cosine ${r._4}")
      assert(!r._5, s"rep ${r._1} flagged as dup")
    }
    // flagged rows are exactly the non-reps at/above the threshold
    sd.filter(r => r._1 != r._3).foreach { r =>
      assert(r._5 == (r._4 >= 0.35), s"wrong flag on $r")
    }
  }

  test("graph stats: K4 plus a pendant edge counts triangles and wedges exactly") {
    // K4 on nodes 1-4 (4 triangles; degrees 3,3,3,4 after the pendant
    // (4,5)) → wedges 3+3+3+6+0 = 15, coefficient 3·4/15 = 0.8
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val row = Dedup.nearDupGraphStats(edges)
      .as[(Long, Long, Long, Double)].head()
    assert(row == ((5L, 7L, 4L, 0.8)), s"got $row")
  }

  test("degree orientation bounds triangle-join fan-out at a low-id hub") {
    // Hub node 1 connected to 200 leaves. Under id-orientation the hub
    // (lowest id, highest degree) gets out-degree 200, so the wedge
    // self-join fans out C(200,2) ≈ 20k candidate rows on ONE join key —
    // the O(deg²) celebrity blowup. Under (degree, id) orientation every
    // degree-1 leaf points AT the hub: max out-degree 1, zero wedge
    // candidates, identical (exact) stats.
    val star = (2L to 201L).map(i => (1L, i)).toDF("doc_a", "doc_b")
    val und = star.select(least($"doc_a", $"doc_b").as("a"),
      greatest($"doc_a", $"doc_b").as("b")).distinct()
    val maxOut = Dedup.orientByDegree(und)
      .groupBy("u").count().agg(max("count")).as[Long].head()
    assert(maxOut == 1L, s"hub fan-out not bounded: max out-degree $maxOut")
    // stats stay exact: 0 triangles, hub wedges 200·199/2 = 19900
    val row = Dedup.nearDupGraphStats(star).as[(Long, Long, Long, Double)].head()
    assert(row == ((201L, 200L, 0L, 0.0)), s"got $row")
  }

  test("simhash: near-identical docs land within hamming distance 4") {
    val nd = wordNearDups(0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val sig = Dedup.simhashDocs(docs)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val close = nd.count { case (a, b) =>
      java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 4
    }
    assert(nd.nonEmpty && close == nd.length,
      s"only $close/${nd.length} 0.9-jaccard pairs within hamming 4")
  }

  test("fingerprints: identical prefix docs share min fingerprint only when similar") {
    val fp = TextAnalysis.docFingerprint(docs)
    assert(fp.count() > 0)
    // n_fp is bounded by the number of 5-gram positions
    val bad = fp.join(docs, "doc_id")
      .where($"n_fp" > greatest(length($"text") - 4, lit(1)))
      .count()
    assert(bad == 0)
  }

  test("embedding near-dup: pairs ordered, above threshold, bucket-consistent") {
    val nd = Similarity.embeddingNearDup(emb, 0.35)
      .as[(Long, Long, Double)].collect()
    assert(nd.nonEmpty, "expected some near-dup embedding pairs at 0.35")
    assert(nd.forall(p => p._1 < p._2 && p._3 >= 0.35))
    // every reported pair must share an LSH bucket (candidate-set law)
    val buckets = emb.select($"vec_id",
      Similarity.lshBucketCol(spark, $"embedding").as("b"))
      .as[(Long, Int)].collect().toMap
    assert(nd.forall(p => buckets(p._1) == buckets(p._2)))
  }

  test("embedding near-dup hot-bucket cap bounds candidates by construction") {
    // 40 identical vectors land in ONE bucket; with maxBucket=16 that
    // bucket (40 > 16) is dropped entirely — zero pairs instead of
    // 40*39/2 — while a 3-vector cluster in its own bucket survives.
    // This is the viral-band treatment from Dedup applied to embeddings.
    val dim = Similarity.Dim
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => (math.sin(seed * 97.0 + i) + 1.5).toFloat)
    // cool = -hot: every hyperplane projection flips sign, so the cool
    // cluster is GUARANTEED a different bucket, and hot-cool cosine is -1
    val hot = (0L until 40L).map(i => (i, vec(1)))
    val cool = (100L until 103L).map(i => (i, vec(1).map(x => -x)))
    val d = (hot ++ cool).toDF("vec_id", "embedding")
    val capped = Similarity.embeddingNearDup(d, 0.9, maxBucket = 16)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(capped.toSet == Set((100L, 101L), (100L, 102L), (101L, 102L)),
      s"expected only the cool-cluster pairs, got ${capped.length} pairs")
    val uncapped = Similarity.embeddingNearDup(d, 0.9, maxBucket = 1000)
      .count()
    assert(uncapped == 40L * 39 / 2 + 3, s"uncapped should see all pairs, got $uncapped")
  }

  test("derived plane count keeps LSH buckets under the cap as the corpus grows") {
    // law: planes = planesFor(n) keeps expected bucket size n/2^planes
    // at or below TargetBucket (until the MaxPlanes ceiling), never
    // shrinks below the floor, and grows monotonically with n
    val ladder = Seq(500L, 50000L, 5000000L, 500000000L, 50000000000L)
    val ps = ladder.map(Similarity.planesFor)
    ps.foreach(p => assert(p >= Similarity.LshPlanes && p <= Similarity.MaxPlanes))
    ladder.zip(ps).foreach { case (n, p) =>
      if (p < Similarity.MaxPlanes)
        assert(n.toDouble / (1L << p) <= Similarity.TargetBucket,
          s"expected bucket size blows the target at n=$n planes=$p")
    }
    assert(ps == ps.sorted, "plane count must be monotone in corpus size")
    // test-scale corpora keep the legacy 6 planes (bucket stability)
    assert(Similarity.planesFor(500) == Similarity.LshPlanes)

    // empirical: a 100x corpus at the derived plane count keeps every
    // bucket under MaxLshBucket, so the cap trims nothing here
    val n = 50000L
    val planes = Similarity.planesFor(n)
    assert(planes > Similarity.LshPlanes, "100x corpus must derive more planes")
    // iid components via murmur hash — a sin(id+i) ladder would put all
    // vectors on a 2-dim manifold (sin(φ+i) = sinφ·cos i + cosφ·sin i)
    // and collapse the buckets, which is a generator artifact, not LSH
    val vecs = spark.range(n).select($"id".as("vec_id"),
      expr(s"transform(sequence(1, ${Similarity.Dim}), " +
        s"i -> CAST(CAST(hash(id, i) AS DOUBLE) / 2147483647.0 AS FLOAT))").as("embedding"))
    val maxBucket = vecs
      .select(Similarity.lshBucketCol(spark, $"embedding", planes).as("b"))
      .groupBy("b").count().agg(max("count")).as[Long].head()
    assert(maxBucket <= Similarity.MaxLshBucket,
      s"max bucket $maxBucket exceeds the ${Similarity.MaxLshBucket} cap at planes=$planes")
  }

  test("IVF assignment is deterministic, total, and seeded from the first K ids") {
    val a1 = Similarity.ivfAssign(emb, 8)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val a2 = Similarity.ivfAssign(emb, 8)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(a1 == a2, "re-running assignment must reproduce identical cells")
    assert(a1.size == emb.count(), "every vector lands in exactly one cell")
    val k = Similarity.centroidsFor(emb.count(), 8)
    assert(k == math.max(8, math.floor(math.sqrt(emb.count().toDouble)).toInt))
    assert(a1.values.toSet.subsetOf((0L until k.toLong).toSet),
      "cells must be seed ids in [0, K)")
  }

  test("IVF multiprobe: candidates superset of nprobe=1, recall >= nprobe=1") {
    val k = 3
    val truth = Similarity.bruteForceTopK(emb, 16, k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      got.count(truth.contains).toDouble / truth.size
    }
    val r1 = recallOf(Similarity.ivfTopK(emb, 8, 16, k))
    val r2 = recallOf(Similarity.ivfTopK(emb, 8, 16, k, nprobe = 2))
    assert(r2 >= r1, s"multiprobe recall $r2 < nprobe=1 recall $r1")
    // probing 2 cells must also never SHRINK any query's result set
    val n1 = Similarity.ivfTopK(emb, 8, 16, k).count()
    val n2 = Similarity.ivfTopK(emb, 8, 16, k, nprobe = 2).count()
    assert(n2 >= n1, s"multiprobe returned fewer rows ($n2) than nprobe=1 ($n1)")
  }

  test("IVF nprobe=1: the home cell off the assignment is the rank-1 probe cell") {
    val k = 3
    val assigned = Similarity.ivfAssign(emb, 8)
    val probes = Similarity.probeCells(emb, 8, 16, 1, None)
    val home = assigned.filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("cell").as("qcell"))
      .as[(Long, Long)].collect().sorted
    assert(home.length == 16)
    assert(probes.select("query_id", "qcell").as[(Long, Long)].collect().sorted
      .sameElements(home), "rank-1 probe cell differs from the assigned home cell")
    val served = Similarity.ivfTopK(emb, 8, 16, k)
      .as[(Long, Long, Long, Double)].collect()
    val ranked = Similarity.cellTopK(assigned, probes, k)
      .as[(Long, Long, Long, Double)].collect()
    assert(served.nonEmpty)
    served.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.sorted.sameElements(ranked.filter(_._1 == q).sorted),
        s"query $q: home-cell rows differ from the ranked-probe rows")
    }
    assert(ranked.map(_._1).toSet == served.map(_._1).toSet)
  }

  test("LSH top-k without a corpus count counts the corpus once per session") {
    // a corpus no other test builds from, so the first call is cold
    val fresh = emb.filter(col("vec_id") =!= 4099L)
    val m = Metrics.install(spark)
    try {
      assert(m.measure(Similarity.lshTopK(fresh, 4, 3))._2.cpuNs > 0,
        "the first build counts the corpus")
      assert(m.measure(Similarity.lshTopK(fresh, 4, 3))._2 == Metrics.Totals.Zero,
        "a second build ran a Spark job")
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("nested index builds run once per session: a second IVF-PQ call builds nothing") {
    // the PQ code table builds its codebook and reads the assignment
    // inside its own build; a fresh corpus makes every build cold
    val fresh = emb.filter(col("vec_id") =!= 4097L)
    val before = Materialize.buildTimes
    val first = Similarity.ivfPqTopK(fresh, 8, 4, 3).collect()
    val built = Materialize.buildTimes.keySet -- before.keySet
    Seq("ivfCentroids", "ivfAssign", "pqCodebook", "pqCodes").foreach { tag =>
      assert(built.exists(_.startsWith(tag + ":")), s"no $tag build in $built")
    }
    val snapshot = Materialize.buildTimes
    val again = Similarity.ivfPqTopK(fresh, 8, 4, 3).collect()
    assert(Materialize.buildTimes == snapshot, "the second call rebuilt an index")
    assert(again.sortBy(_.toString).sameElements(first.sortBy(_.toString)))
  }

  test("index memo: builds nest to any depth, each key builds once per session") {
    var runs = 0
    def build(depth: Int): Int = Materialize.memo(spark, s"memo-spec-nest:$depth") {
      runs += 1
      if (depth == 0) 0 else build(depth - 1) + 1
    }
    assert(build(64) == 64 && runs == 65)
    val snapshot = Materialize.buildTimes
    assert((0 to 64).forall(d => snapshot.contains(s"memo-spec-nest:$d")))
    assert(build(64) == 64 && runs == 65, "a memoized build ran again")
    assert(Materialize.buildTimes == snapshot)
  }

  test("LSH multiprobe: candidates superset of single-probe, recall >= single-probe") {
    val k = 3
    val truth = Similarity.bruteForceTopK(emb, 16, k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val single = pairsOf(Similarity.lshTopK(emb, 16, k))
    val multi = pairsOf(Similarity.lshTopK(emb, 16, k, radius = 1))
    def recallOf(s: Set[(Long, Long)]) =
      s.count(truth.contains).toDouble / truth.size
    assert(recallOf(multi) >= recallOf(single),
      s"multiprobe recall ${recallOf(multi)} < single ${recallOf(single)}")
    // the home bucket is probe 0, so every query returns at least as
    // many rows; a top-k re-rank can swap members, so assert on counts
    // per query, not set containment of the final k
    val n1 = Similarity.lshTopK(emb, 16, k).groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    val n2 = Similarity.lshTopK(emb, 16, k, radius = 1).groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    n1.foreach { case (q, n) =>
      assert(n2.getOrElse(q, 0L) >= n, s"query $q shrank: $n -> ${n2.get(q)}")
    }
    // and the multiprobe top-k cosines are never worse pointwise: the
    // rank-r cosine under a superset candidate pool is >= single-probe's
    val c1 = Similarity.lshTopK(emb, 16, k)
      .select("query_id", "rnk", "cos_sim")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val c2 = Similarity.lshTopK(emb, 16, k, radius = 1)
      .select("query_id", "rnk", "cos_sim")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    c1.foreach { case (key, cos) =>
      assert(c2(key) >= cos, s"rank ${key._2} cosine worsened for query ${key._1}")
    }
  }

  test("canonical selection keeps exactly one longest doc per cluster") {
    val clusters = Dedup.nearDupClusters(wordNearDups(0.7))
    val canon = Dedup.canonicalDocs(docs, clusters)
      .as[(Long, Long, Long, Long, Long)].collect()
    val nClusters = clusters.select("cluster_id").distinct().count()
    assert(canon.length == nClusters, "one keeper per cluster")
    val chars = docs.select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val byCluster = clusters.select("cluster_id", "doc_id")
      .as[(Long, Long)].collect().groupBy(_._1)
    canon.foreach { case (cid, size, keeper, kchars, dropped) =>
      val members = byCluster(cid).map(_._2)
      assert(members.contains(keeper), s"keeper $keeper not in cluster $cid")
      assert(size == members.length && dropped == size - 1)
      assert(kchars == chars(keeper))
      // keep-longest policy: no member strictly longer, ties to min id
      assert(members.forall(m => chars(m) < kchars ||
        (chars(m) == kchars && m >= keeper)), s"wrong keeper in cluster $cid")
    }
  }

  test("int8-quantized top-k tracks the exact cosine ranking") {
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, 8, k)
      .select("query_id", "cand_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    val quant = Similarity.quantizedTopK(emb, 8, k)
      .select("query_id", "cand_id", "qcos")
      .as[(Long, Long, Double)].collect()
    assert(quant.forall(r => r._3 >= -1.0000001 && r._3 <= 1.0000001),
      "quantized cosine out of [-1, 1]")
    // int8 symmetric quantization perturbs cosines by O(1/127): the
    // top-k sets should overlap heavily (recall@k >= 0.6) and any
    // shared (query, cand) scores should agree within 0.05
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val overlap = quant.count(r => exactSet.contains((r._1, r._2))).toDouble
    assert(overlap / exact.length >= 0.6,
      s"quantized recall ${overlap / exact.length} too low")
    val exactScore = exact.map(r => (r._1, r._2) -> r._3).toMap
    quant.foreach { case (q, c, s) =>
      exactScore.get((q, c)).foreach(e =>
        assert(math.abs(e - s) < 0.05, s"quantization error ${math.abs(e - s)} at ($q,$c)"))
    }
  }

  test("embedding stats: norms ≈ 1-ish and per-label counts sum to total") {
    val st = Similarity.embeddingStats(emb)
    val n = st.agg(sum("n_vectors")).as[Long].head()
    assert(n == emb.count())
  }

  test("pagerank matches an independent integer mirror and ranks hubs highest") {
    // star 0-{1,2,3} plus disconnected pair 10-11: the hub must outrank
    // its leaves, symmetric nodes must tie EXACTLY, and every rank must
    // equal a plain-Scala mirror of the same floor-division iterations
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.pagerankNearDup(pairs)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // independent mirror (adjacency maps, same Scale/base/iterations)
    val Scale = 1000000000000L
    val adj = Map(0L -> Seq(1L, 2L, 3L), 1L -> Seq(0L), 2L -> Seq(0L),
      3L -> Seq(0L), 10L -> Seq(11L), 11L -> Seq(10L))
    val n = adj.size.toLong
    val base = 15L * Scale / (100L * n)
    var r = adj.keys.map(_ -> Scale / n).toMap
    for (_ <- 1 to 10)
      r = adj.keys.map { v =>
        // collect to a Seq of contributions — a keys.map would build a
        // SET and silently dedup equal contributions
        val c = adj.toSeq.collect {
          case (u, ns) if ns.contains(v) => r(u) / ns.size
        }.sum
        v -> (base + 85L * c / 100L)
      }.toMap
    assert(got.keySet === adj.keySet)
    adj.keys.foreach(v => assert(got(v)._1 === r(v), s"rank mismatch at $v"))
    assert(got(0L)._1 > got(1L)._1, "hub must outrank leaf")
    assert(got(1L) === got(2L) && got(2L) === got(3L), "symmetric leaves tie")
    assert(got(10L) === got(11L), "symmetric pair ties")
    assert(got(0L)._2 === 3L && got(1L)._2 === 1L)
  }

  test("split leakage flags exactly the clusters straddling splits") {
    // compute the real split of small ids with a plain-Scala md5 mirror,
    // then build one straddling and one single-split cluster
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes).map("%02x".format(_)).mkString
      val b = Integer.parseInt(hex.take(2), 16)
      if (b < 204) "train" else if (b < 230) "val" else "test"
    }
    val ids = (0L until 200L)
    val trainIds = ids.filter(split(_) == "train").take(3)
    val evalId = ids.find(id => split(id) != "train").get
    val clusters =
      ((trainIds.take(2) :+ evalId).map(id => (id, 1L)) ++
        trainIds.map(id => (id, 2L)))
        .map { case (id, c) => (id, c, 3L) }
        .toDF("doc_id", "cluster_id", "cluster_size")
    val got = Dedup.splitLeakage(clusters).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L), "only cluster 1 leaks")
    val r = got.head
    assert(r.getLong(2) === 2L) // n_splits
    assert(r.getLong(3) === 2L) // n_train
    assert(r.getLong(4) + r.getLong(5) === 1L) // the eval member
  }

  test("incremental ANN adds: base+delta assignment equals frozen full re-assignment; probes serve both sides") {
    val n = emb.count()
    val b = n * 9 / 10
    val base = emb.filter(col("vec_id") < b)
    val delta = emb.filter(col("vec_id") >= b)
    val (cents, kc) = Similarity.ivfCentroids(base, 8, Some(b))
    def aset(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = Similarity.ivfAssignIndex(base, 8, Some(b))
      .unionByName(Similarity.ivfAssignDelta(delta, cents, kc))
    // frozen re-assignment of EVERY vector against the same centroids --
    // the FAISS-add identity: per-vector argmax depends only on the
    // vector and the frozen centroid table
    val full = Similarity.ivfAssignDelta(emb, cents, kc)
    assert(delta.count() > 0, "fixture must have a non-empty delta")
    assert(aset(served) == aset(full))
    assert(aset(served).size.toLong == n)
    // the probe over the union view returns results from BOTH epochs
    val probed = Similarity.ivfTopKIncremental(emb, 8, 16, 3, b)
      .select("cand_id").collect().map(_.getLong(0)).toSet
    assert(probed.nonEmpty)
  }

  test("ivf index stats: occupancy accounts for every vector, skew bounds hold") {
    val n = emb.count()
    val r = Similarity.ivfIndexStats(emb, 8, Some(n)).collect().head
    val Seq(nVec, nCells, used, cmin, cmax, mean, skew) =
      (0 until 7).map(r.getLong(_))
    assert(nVec == n, "every vector must be assigned to exactly one cell")
    assert(used >= 1 && used <= nCells)
    assert(cmin >= 1 && cmin <= cmax && cmax <= nVec)
    assert(mean == 1000L * nVec / used)
    assert(skew >= 1000L, "max cell cannot be below the mean cell")
    assert(skew == 1000L * cmax * used / nVec)
  }

  test("dup-quality bias: bands partition the tokenized corpus, clustered counts reconcile") {
    val docs = Tables.documents(spark, sf0001)
    val clusters = operators.SharedIntermediates.textClusters(spark, sf0001)
    val rows = operators.TextAnalysis.dupQualityBias(docs, clusters).collect()
    assert(rows.nonEmpty)
    val totalDocs = rows.map(_.getLong(1)).sum
    val totalClustered = rows.map(_.getLong(2)).sum
    assert(totalDocs == docs.count(), "every tokenized doc lands in one band")
    assert(totalClustered == clusters.select("doc_id").distinct().count(),
      "clustered-doc mass must reconcile with the cluster table")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= 1000L)
    }
  }

  test("minhash estimator: identical docs estimate exactly 1000 permille; corpus stats bounded") {
    import spark.implicits._
    // theory fixture: identical texts => every component min collides =>
    // est = exact = 1000, zero error in the top bucket
    val twin = Seq((0L, "alpha beta gamma delta epsilon zeta"),
        (1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val r = Dedup.minhashEstimateError(twin, empty).collect()
    assert(r.length == 1 && r.head.getLong(0) == 10L)
    assert(r.head.getLong(2) == 0L && r.head.getLong(3) == 0L &&
      r.head.getLong(4) == 0L, "identical docs must calibrate error-free")
    // corpus run: buckets ordered, error stats internally consistent
    val rows = Dedup.minhashEstimateError(Tables.documents(spark, sf0001),
      operators.SharedIntermediates.textPairs(spark, sf0001)).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq.sorted)
    rows.foreach { b =>
      val (n, mean, mx, bias) =
        (b.getLong(1), b.getLong(2), b.getLong(3), b.getLong(4))
      assert(n > 0 && mean <= mx && mx <= 1000, s"bucket ${b.getLong(0)}")
      assert(math.abs(bias) <= mean, "bias magnitude cannot exceed mean |err|")
    }
  }

  test("leakage-free split: one split per cluster, singletons unmoved, repair complete") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val clusters = operators.SharedIntermediates.textClusters(spark, sf0001)
    val assigned = Dedup.leakageFreeSplit(docs, clusters)
    // every doc assigned exactly once
    assert(assigned.count() == docs.count())
    // the defining property: no cluster straddles splits
    val straddling = assigned.groupBy("cluster_rep")
      .agg(org.apache.spark.sql.functions.countDistinct("split").as("ns"))
      .filter($"ns" > 1).count()
    assert(straddling == 0L, "a cluster straddles splits after repair")
    // singletons (not in the cluster table) keep their naive split
    val clustered = clusters.select("doc_id").as[Long].collect().toSet
    val movedSingletons = assigned.filter($"moved")
      .select("doc_id").as[Long].collect().filterNot(clustered)
    assert(movedSingletons.isEmpty, s"singletons moved: ${movedSingletons.take(5).toSeq}")
    // the fixture must actually exercise the repair (some doc moved)
    assert(assigned.filter($"moved").count() > 0, "fixture exercises no repair")
  }

  test("ann recall audit: multiprobe recall dominates single-probe, counts bounded") {
    val rows = Similarity.annRecallAudit(emb, 8, 16, 3, Some(emb.count()))
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("ivf", "ivf_int8", "ivf_p2"))
    val byM = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    byM.foreach { case (m, (nT, nA, nHit, rec)) =>
      assert(nT == 16L * 3, s"$m: 16 queries x k=3 ground truth")
      assert(nA <= nT && nHit <= math.min(nA, nT), s"$m count bounds")
      assert(rec == 1000L * nHit / nT && rec > 0 && rec <= 1000, s"$m recall")
    }
    // superset candidates => top-k under the same total order can only
    // gain true members (see annRecallAudit scaladoc)
    assert(byM("ivf_p2")._4 >= byM("ivf")._4, "multiprobe recall must dominate")
  }

  test("power-iteration PCA: planted dominant direction recovered; k-step orbit deterministic") {
    // planted anisotropic cloud: x = s·u + small deterministic noise,
    // u = alternating ±0.7 — λ1 ≫ λ2, so 6 rounds converge (the
    // driver corpus is near-isotropic by construction, λ2/λ1 ≈ 0.93:
    // there k-step power iteration is still the DEFINED, oracle-exact
    // contract, but no fixed k aligns — which is the data's property,
    // not the operator's)
    val u = Array.tabulate(64)(i => if (i % 2 == 0) 0.7 else -0.7)
    val rows = (0 until 200).map { r =>
      val s = 1.0 + (r % 5) * 0.3
      (r.toLong, Array.tabulate(64)(i =>
        (s * u(i) + 0.01 * ((r * 31 + i * 7) % 11 - 5)).toFloat))
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val got = operators.Similarity.embeddingPcaPower(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2.toDouble)
    assert(got.length == 64)
    assert(got.map(math.abs).max == 1000000.0, "max-abs rescale must hit ±1e6")
    val dot = got.zip(u).map { case (a, b) => a * b }.sum
    val cos = dot / math.sqrt(got.map(x => x * x).sum * u.map(x => x * x).sum)
    assert(math.abs(cos) > 0.999, s"planted direction not recovered: cos=$cos")
    // deterministic: the k-step orbit on the real corpus is bit-stable
    val r1 = operators.Similarity.embeddingPcaPower(
      Tables.embeddings(spark, sf0001)).collect().map(_.toSeq)
    val r2 = operators.Similarity.embeddingPcaPower(
      Tables.embeddings(spark, sf0001)).collect().map(_.toSeq)
    assert(r1.toSeq == r2.toSeq)
  }

  test("int8 quantization error: max residual provably half a step, mean near 0.25") {
    val r = operators.Similarity.quantizationError(
      Tables.embeddings(spark, sf0001)).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (mean, mx) = (row.getAs[Long]("mean_abs_q4"), row.getAs[Long]("max_abs_q4"))
      assert(mx <= 5000L, s"residual beyond half a quantization step: $row")
      // healthy rounding quantizer: mean |r| ≈ 0.25 steps (2500 q4)
      assert(mean > 1000L && mean < 4000L, s"mean residual implausible: $row")
      assert(row.getAs[Long]("n_vectors") > 0)
    }
  }

  test("lsh recall audit: precision is exactly 1000 permille, recall bounded, counts consistent") {
    val d = sf0001
    val exact = operators.SimJoin.jaccardJoinFromIndex(
      operators.SharedIntermediates.wordGramIndex(spark, d), 7, 10)
    val lsh = operators.SharedIntermediates.textPairs(spark, d)
    val r = Dedup.lshRecallAudit(exact, lsh).collect().head
    val (nEx, nLsh, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nEx > 0 && nLsh > 0, "fixture should contain pairs")
    assert(nHit == nLsh, "verified LSH pairs must all be exact pairs (precision 1)")
    assert(r.getLong(4) == 1000L)
    assert(r.getLong(3) <= 1000L && r.getLong(3) > 0L)
  }

  test("random_projection_audit: single-coordinate pairs project distance-exactly") {
    // a ±1 sign projection maps a one-coordinate difference δ to ±δ in
    // EVERY output dim, so d2_proj = outDims·δ² and the ratio is
    // exactly 1 (1000000 ppm) whatever the sign matrix says — an
    // analytic fixed point independent of the md5 parities
    val base = (0 until 64).map(d => 0.001f * (d + 1))
    val rows = (0L to 5L).map { v =>
      val arr = base.toArray
      // all vecs share base except coordinate 0, stepped 1 milli per
      // vec — so CONSECUTIVE vecs differ in exactly one coordinate
      arr(0) = arr(0) + 0.001f * v
      (v, arr.toSeq, 0)
    }
    val emb6 = rows.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label")
    val out = Similarity.randomProjectionAudit(emb6, 16, Seq(1)).collect()
    assert(out.length == 1, s"got ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("n_pairs") == 5L, s"got $r")
    assert(r.getAs[Long]("min_ratio_ppm") == 1000000L &&
      r.getAs[Long]("max_ratio_ppm") == 1000000L &&
      r.getAs[Long]("within20_permille") == 1000L,
      s"one-coordinate pairs must project exactly: $r")
    // real corpus: ratios concentrate near 1 (JL with 16 dims is loose
    // but unbiased) — bound the mean, don't pin the tails
    val real = Similarity.randomProjectionAudit(emb).collect()
    assert(real.nonEmpty)
    real.foreach { row =>
      val mean = row.getAs[Long]("mean_ratio_ppm")
      assert(mean > 500000L && mean < 1600000L,
        s"mean distortion implausible for JL: $row")
    }
  }

  test("index key: one key per embedding frame, whichever session reads it") {
    // the key names the durable index dir and the bench's build baseline,
    // so it must not depend on anything a fresh JVM or session changes
    def key(df: org.apache.spark.sql.DataFrame) = Similarity.indexKey("ivfCentroids", df, 8, -1L)
    val a = key(Tables.embeddings(spark.newSession(), sf0001))
    assert(a == key(Tables.embeddings(spark.newSession(), sf0001)))
    assert(a.startsWith("ivfCentroids:") && a.contains(":8:-1@"), a)
    val projected = key(emb.drop("label"))
    val filtered = key(emb.filter($"vec_id" % 2 === 0))
    assert(Set(a, projected, filtered).size == 3, Seq(a, projected, filtered))
    assert(Set(a, projected, filtered).map(_.split("@").last).size == 1,
      "same files, same fingerprint")
  }
}

/** Single-shot failure injector for the O16 dedup retry spec — a static
  * flag so exactly ONE task attempt ever throws, regardless of how many
  * jobs re-execute the source stage. */
object DedupFailOnce {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}
