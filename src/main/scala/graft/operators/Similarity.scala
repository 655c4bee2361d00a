package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.Exact.{hexNibble, signedDivSql, splitOf}

/** Similarity search over the embeddings table (ArrayType(FloatType), 64
  * dims): brute-force cosine top-k as the correctness baseline and a
  * sign-LSH (random-hyperplane) bucketed variant as the scale path.
  *
  * Determinism note: dot products / norms are built as left-associated
  * 64-term double chains (element_at(...).cast(double)), which DuckDB can
  * reproduce verbatim — bit-identical cosine on both engines. Cosines are
  * rounded to 6 digits *before* ranking so the ordering is identical too.
  *
  * Scale design (100 TB): brute-force is a broadcast of the (small) query
  * set against a partitioned candidate scan — no shuffle of the corpus;
  * per-query top-k via window ranking on the rounded score. The sign-LSH
  * variant turns the cross product into an equi-join on a 6-bit bucket —
  * shuffle on bucket id — cutting the candidate set ~64×; more planes /
  * multiprobe trade recall for cost without changing the plan shape.
  */
object Similarity {

  val Dim = 64

  /** Minimum (and small-corpus) plane count. */
  val LshPlanes = 6

  /** Expected bucket size the plane count maintains: planes are derived
    * so N / 2^planes stays at or below this, keeping the [[MaxLshBucket]]
    * cap a pathological-bucket trim rather than a recall killer. */
  val TargetBucket = 256

  /** Ceiling on the derived plane count — bounds the oracle mirror (the
    * SQL masks unused planes) at 2^24 buckets ≈ 4.3G vectors at
    * TargetBucket 256; raise for bigger corpora. */
  val MaxPlanes = 24

  /** Scale-adaptive plane count: the smallest p in [LshPlanes, MaxPlanes]
    * with n <= TargetBucket·2^p — i.e. planes ≈ log2(n/TargetBucket), in
    * EXACT integer arithmetic (no float log edge cases), so the oracle
    * reproduces it with the same CASE ladder. Expected bucket size stays
    * ≤ TargetBucket as the corpus grows; recall is tuned by TargetBucket,
    * not silently collapsed by a fixed plane count. */
  def planesFor(n: Long): Int =
    LshPlanes + (LshPlanes until MaxPlanes).count(p => n > (TargetBucket.toLong << p))

  /** Deterministic ±1 hyperplane matrix derived from md5 — reproducible
    * in SQL-free constant form on both engines (inlined signs). Generated
    * to MaxPlanes rows; row j is independent of the total count, so a
    * query using planesFor(n) ≤ MaxPlanes planes sees the same planes the
    * oracle inlines. */
  lazy val lshSigns: Array[Array[Int]] =
    graft.functions.LshBucket.signMatrix(MaxPlanes, Dim)

  /** Left-associated Σ a[i]*b[i] in double — order-stable. */
  def dotCol(a: Column, b: Column): Column =
    (1 to Dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double")).reduce(_ + _)

  /** Left-associated Σ a[i]² in double. */
  def norm2Col(a: Column): Column =
    (1 to Dim).map { i =>
      val e = element_at(a, i).cast("double"); e * e
    }.reduce(_ + _)

  /** Composed-builtin cosine — reference form; the ann queries use the
    * native CosineSimilarity expression, which is bit-identical (same
    * IEEE operation order) but runs as a generated loop. */
  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (sqrt(norm2Col(a)) * sqrt(norm2Col(b)))

  /** Sign-LSH bucket id — the native LshBucket expression: a generated
    * double loop instead of a ~1,200-node when/Add chain (the chain form
    * measurably dominated the LSH query's wall time via optimizer walks +
    * giant-method JIT). Same IEEE sum order as the chain, so oracle
    * parity is unchanged. */
  def lshBucketCol(spark: org.apache.spark.sql.SparkSession, e: Column,
      planes: Int = LshPlanes): Column =
    graft.functions.GraftFunctions.lsh_bucket(spark, e, planes)

  // ---- the ANN core: candidates → score → rank ------------------------
  //
  // Every top-k path is one candidate generator (all pairs, the query's
  // LSH bucket within a probe radius, its `nprobe` IVF cells, or a
  // quantized shortlist), one scorer (rounded cosine over float or int8
  // vectors, or PQ's ADC distance) and the one ranker below; refining
  // paths re-rank their shortlist with [[exactRefine]].

  /** Rounded native cosine — the score every float and int8 path ranks
    * on, rounded to 6 digits before ranking so both engines order
    * identically. */
  private def roundedCos(spark: SparkSession, a: Column, b: Column): Column =
    round(graft.functions.GraftFunctions.cosine_sim(spark, a, b), 6)

  /** The query slice (vec_id < nQueries) as (query_id, `cols`…). */
  private def queries(df: DataFrame, nQueries: Int, cols: Column*): DataFrame =
    df.filter(col("vec_id") < nQueries).select(col("vec_id").as("query_id") +: cols: _*)

  /** The cosine scorer: corpus rows (vec_id, `cvec`, …) against the
    * BROADCAST query side (query_id, `qvec`, …) — the query batch is
    * API-bounded tiny, so the corpus side never shuffles — matched on
    * the candidate generator's key (`on`: LSH bucket or IVF cell; none
    * for brute force), self-pairs excluded. */
  private def cosineScored(corpus: DataFrame, qs: DataFrame, on: Option[Column],
      qvec: String, cvec: String, as: String = "cos_sim"): DataFrame = {
    val notSelf = col("vec_id") =!= col("query_id")
    corpus.join(broadcast(qs), on.fold(notSelf)(_ && notSelf))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        roundedCos(corpus.sparkSession, col(qvec), col(cvec)).as(as))
  }

  /** The one ranker: per query, `score` descending (ascending for a
    * distance) with cand_id ascending as the total-order tie-break,
    * ranks ≤ k kept as `rnk`. It ranks final top-k's, refine
    * shortlists and probe cells alike. */
  private def topPerQuery(scored: DataFrame, score: String, k: Int,
      ascending: Boolean = false): DataFrame = {
    val order = if (ascending) col(score).asc else col(score).desc
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order, col("cand_id").asc))
        .cast("long"))
      .filter(col("rnk") <= k)
  }

  /** The top-k output shape: (query_id, rnk, cand_id, score) in rank order. */
  private def ranked(scored: DataFrame, score: String, k: Int): DataFrame =
    topPerQuery(scored, score, k)
      .select(col("query_id"), col("rnk"), col("cand_id"), col(score))
      .orderBy("query_id", "rnk")

  /** Exact refine: true float cosines over the original vectors decide
    * the final k of a (query_id, cand_id) shortlist — bounded at
    * shortlist-size vector reads, repairing the quantized score's error
    * in the final ranking. */
  private def exactRefine(emb: DataFrame, short: DataFrame, nQueries: Int,
      k: Int): DataFrame =
    ranked(short.select(col("query_id"), col("cand_id"))
        .join(emb.select(col("vec_id").as("cand_id"), col("embedding").as("cemb")),
          "cand_id")
        .join(broadcast(queries(emb, nQueries, col("embedding").as("qe"))), "query_id")
        .select(col("query_id"), col("cand_id"),
          roundedCos(emb.sparkSession, col("qe"), col("cemb")).as("cos_sim")),
      "cos_sim", k)

  /** Corpus size above which [[bruteForceTopK]] switches from the
    * single per-query window to the bucketed two-stage top-k. Below
    * it the single sort fits executor memory and the extra exchange
    * of the bucketed shape is pure overhead (measured: 3.3× task CPU
    * on the sf0.1 corpus, interleaved A/B vs the r9 binary); above it
    * the single-stage window sorts nQueries·N rows per query slice
    * and spilled past a 64 GB disk at 10M vectors (the `ann_pq` scenario). */
  val BruteBucketMin = 1000000L

  /** Brute-force cosine top-k: queries = vec_id < nQueries, ranked per
    * query by (rounded cosine DESC, cand_id). Two RESULT-IDENTICAL
    * plan shapes, chosen by corpus size (the cost-based-planner move;
    * spec-pinned equal):
    *  - small (< [[BruteBucketMin]]): one per-query window — one
    *    exchange, one in-memory sort;
    *  - large: TWO-STAGE top-k (the md5-bucket global-rank shape) —
    *    stage 1 keeps k per (query, cand-id bucket) so each sort sees
    *    ~N/256 rows, stage 2 ranks the ≤ 256·k survivors per query.
    *    Top-k of a union = top-k of the per-bucket top-k's, so the
    *    result is identical while the sort spill shrinks 256×.
    * Without `corpusCount` the corpus size is [[Materialize.count]]. */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int,
      corpusCount: Option[Long] = None): DataFrame = {
    val scored = cosineScored(emb, queries(emb, nQueries, col("embedding").as("qe")),
      None, "qe", "embedding")
    val n = corpusCount.getOrElse(Materialize.count(emb))
    ranked(
      if (n < BruteBucketMin) scored
      else scored.withColumn("bkt", pmod(col("cand_id"), lit(256)))
        .withColumn("rb", row_number().over(Window.partitionBy(col("query_id"), col("bkt"))
          .orderBy(col("cos_sim").desc, col("cand_id").asc)))
        .filter(col("rb") <= k),
      "cos_sim", k)
  }

  /** Sign-LSH top-k: candidates restricted to the query's bucket, or
    * at `radius` 1 to it and every bucket one hyperplane bit away
    * (MULTIPROBE — Lv et al. 2007's recall repair with the
    * deterministic all-distance-1 probe set, which both engines
    * reproduce without ranking hyperplane margins). Radius 1 finds a
    * vector differing from the query in exactly one plane's sign, which
    * radius 0 cannot, so its candidates are a strict superset and recall
    * is monotonically ≥ at (planes+1)× the candidate volume. Both radii
    * run the same join: the probe list explodes on the BROADCAST query
    * side, the corpus computes one bucket per vector and never
    * shuffles, and probe buckets are distinct, so each (query,
    * candidate) pair joins at most once.
    *
    * The plane count derives from the corpus count (pass the memoized
    * catalog stat `Tables.rowCount` as `corpusCount`; the fallback is
    * [[Materialize.count]]), so bucket sizes hold steady as the corpus
    * grows. */
  def lshTopK(emb: DataFrame, nQueries: Int, k: Int,
      corpusCount: Option[Long] = None, radius: Int = 0): DataFrame = {
    require(radius == 0 || radius == 1, s"LSH probe radius must be 0 or 1, got $radius")
    val planes = planesFor(corpusCount.getOrElse(Materialize.count(emb)))
    val sig = emb.select(col("vec_id"), col("embedding"),
      lshBucketCol(emb.sparkSession, col("embedding"), planes).as("bucket"))
    val probe = if (radius == 0) col("bucket")
      else explode(array(col("bucket") +: (0 until planes).map(j =>
        col("bucket").bitwiseXOR(lit(1 << j))): _*))
    ranked(cosineScored(sig,
        queries(sig, nQueries, col("embedding").as("qe"), probe.as("qbucket")),
        Some(col("bucket") === col("qbucket")), "qe", "embedding"),
      "cos_sim", k)
  }

  /** Centroid-table broadcast cutoff: past this many centroids the
    * probe table stops being force-broadcast and the assignment join is
    * left to runtime stats (AQE still broadcasts when genuinely small).
    * At √N centroids a 10⁹-vector corpus trains ~31k centroids × 64
    * doubles ≈ 16 MB — right at the edge, so the cutoff matters. */
  val MaxBroadcastCentroids = 4096

  /** Scale-adaptive centroid count: the standard ~√N rule (balances
    * cells scanned per probe against vectors per cell), floored at
    * `minCentroids`. floor(sqrt) is correctly-rounded IEEE on both
    * engines — deterministic. */
  def centroidsFor(n: Long, minCentroids: Int): Int =
    math.max(minCentroids, math.floor(math.sqrt(n.toDouble)).toLong).toInt

  /** Join of the corpus against a centroid table, broadcast-hinted only
    * while the centroid side is provably small. */
  private def scoreAgainst(emb: DataFrame, cents: DataFrame, k: Int,
      centCol: String): DataFrame = {
    val spark = emb.sparkSession
    val side = if (k <= MaxBroadcastCentroids) broadcast(cents) else cents
    emb.crossJoin(side)
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        roundedCos(spark, col("embedding"), col(centCol)).as("ccos"))
  }

  /** Training-sample size multiple: the Lloyd re-centering trains on
    * the first TrainFactor·K vectors by id, NOT the full corpus. This
    * is how production IVF builds work — the coarse quantizer is fit on
    * a bounded sample (≈ tens of points per centroid) because training
    * cost must not scale with corpus size: at 10⁹ vectors and K = √N ≈
    * 31k centroids, a full-corpus assignment pass is 3·10¹³ cosine
    * evaluations, while the 16·K sample costs 1.6·10¹⁰ — and the
    * centroid quality difference is noise. The prefix-by-id sample is
    * deterministic, so the oracle reproduces the centroids exactly. */
  val TrainFactor = 16

  /** IVF coarse quantization with ONE deterministic Lloyd iteration:
    *
    *  1. seeds = the first K vectors by id, K = centroidsFor(N) ≈ √N —
    *     a deterministic seed set both engines reproduce;
    *  2. each vector of the [[TrainFactor]]·K training sample assigns
    *     to its nearest seed (rounded cosine DESC, centroid id ASC —
    *     explicit engine-portable argmax);
    *  3. each cell re-centers to the element-wise mean of its sample
    *     members, computed in EXACT integer micro-units: elements
    *     quantize to floor(x·10⁶ + 0.5) (floor, not round — engines
    *     disagree on half-away vs half-even for negative doubles), sum
    *     as BIGINT (order-independent — a float sum would depend on
    *     partition order), divide back in a fixed double-op sequence.
    *     The oracle reproduces the centroids bit-for-bit;
    *  4. the corpus scores against the iterated centroids; each vector's
    *     home cell is a partial-aggregable argmax ([[argmaxCell]] — no
    *     corpus-wide window sort), and a query's probe cells come from a
    *     window over the query slice only.
    *
    * Plan shape: ONE corpus scan (the sample-bounded training pass does
    * not scale with N) + one tiny aggregation; the centroid side is
    * broadcast only under [[MaxBroadcastCentroids]], otherwise the
    * assignment runs as a stats-planned join (the √N centroid table of
    * a 100 TB corpus is NOT broadcastable). No corpus shuffle beyond
    * the argmax groupBy (map-side combined). Further Lloyd rounds would
    * repeat steps 2-3 — one round already de-toys the first-K seeds into
    * density-weighted centroids while keeping the oracle mirror exact. */
  /** Deterministic per-vector argmax WITHOUT a window: max_by keyed on
    * (ccos, -cent_id) — the exact (rounded cosine DESC, centroid id ASC)
    * tie-break of the ranked form, but as a partial-aggregable
    * map-side-combining aggregation instead of a corpus-wide sort. The
    * key is unique per row (cent ids are distinct within a vector), so
    * max_by's tie behavior never engages. */
  private def argmaxCell(scored: DataFrame): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(max_by(struct(col("cent_id"), col("embedding"), col("ccos")),
        struct(col("ccos"), (-col("cent_id")).as("nc"))).as("w"))
      .select(col("vec_id"), col("w.embedding").as("embedding"),
        col("w.cent_id").as("cell"), col("w.ccos").as("ccos"))

  /** [[argmaxCell]] for the FULL-CORPUS assignment build: identical
    * argmax semantics (max ccos, min cent_id on ties — ccos is already
    * rounded to 6 dp, so its micro-unit integer is a faithful total
    * order), but the (ccos, cent_id) pair is PACKED into one BIGINT and
    * reduced with plain max(). Why it matters: any struct-buffer
    * aggregate (max_by) plans as SortAggregate — Spark sorts the entire
    * N×K scored stream by key before aggregating, which at 10M vectors
    * × 3162 centroids spilled 24 GB/task past a 64 GB disk (the
    * round-10 `ann_pq` scenario failure). A LONG buffer runs through
    * HashAggregate inside whole-stage codegen: the 3·10¹⁰-row stream
    * folds into 10M partial rows with no sort anywhere. Layout:
    * (ccos_micro + 10⁶)·2²¹ + (2²¹−1 − cent_id); supports K < 2²¹
    * centroids (√N rule: corpora to ~4·10¹², far past any single
    * machine). Consumers re-attach vectors via equi-join on vec_id
    * (the narrow-index contract [[ivfAssignIndex]] documents). */
  private def argmaxCellNarrow(scored: DataFrame): DataFrame =
    scored.select(col("vec_id"),
        expr("(CAST(round(ccos * 1000000, 0) AS BIGINT) + 1000000) * 2097152" +
          " + (2097151 - cent_id)").as("packed"))
      .groupBy("vec_id").agg(max(col("packed")).as("p"))
      .select(col("vec_id"),
        expr("2097151 - (p % 2097152)").as("cell"),
        expr("CAST(p DIV 2097152 - 1000000 AS DOUBLE) / 1000000.0").as("ccos"))

  /** Content key of an index over `emb`: tag, a digest of the
    * canonical plan's text, parameters and the source-file fingerprint
    * — the fingerprint is what stops a REGENERATED corpus under the
    * same path from being served a stale durable index. The digest is
    * a SHA-256 of text, so two JVMs key the same frame alike (the
    * plan's `semanticHash` mixes in identity hash codes and did not). */
  private[graft] def indexKey(tag: String, emb: DataFrame, params: Any*): String = {
    val plan = emb.queryExecution.analyzed.canonicalized
      .treeString(verbose = true, maxFields = Int.MaxValue)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(plan.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"$tag:$digest${params.map(p => s":$p").mkString}" +
      s"@${Materialize.sourceFingerprint(emb.sparkSession, emb.inputFiles.toSeq)}"
  }

  private def ivfKey(tag: String, emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long]): String =
    indexKey(tag, emb, minCentroids, corpusCount.getOrElse(-1L))

  /** Lloyd-iterated centroid table (cent_id, ce1), K rows — an ANN
    * INDEX structure, built once per (session, corpus, parameters)
    * through [[Materialize.memo]], exactly like a production IVF
    * deployment trains its coarse quantizer once and serves every query
    * from the build. Never the SQL cache: per-query clearCache hygiene
    * must not evict an index build. */
  private[graft] def ivfCentroids(emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long]): (DataFrame, Int) = {
    val key = ivfKey("ivfCentroids", emb, minCentroids, corpusCount)
    Materialize.memo(emb.sparkSession, key) {
      val k = centroidsFor(corpusCount.getOrElse(Materialize.count(emb)), minCentroids)
      (Materialize.table(emb.sparkSession, key)(trainCentroids(emb, k)), k)
    }
  }

  private def trainCentroids(emb: DataFrame, k: Int): DataFrame = {
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
    val train = emb.filter(col("vec_id") < k.toLong * TrainFactor)
    val a0 = argmaxCell(scoreAgainst(train, seeds, k, "ce"))
    val sums = (1 to Dim).map(i =>
      sum(floor(element_at(col("embedding"), i).cast("double") * lit(1000000.0)
        + lit(0.5)).cast("long")).as(s"s$i"))
    val cents1 = a0.groupBy(col("cell"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("cnt")): _*)
      .select(col("cell").as("cent_id"),
        array((1 to Dim).map(i =>
          col(s"s$i").cast("double") / col("cnt").cast("double") / lit(1000000.0)): _*)
          .as("ce1"))
    cents1
  }

  /** The INVERTED FILE itself, as a built-once index: the narrow
    * (vec_id, cell, ccos) corpus→cell assignment, built once through
    * [[Materialize.index]] exactly like the centroid table. Before this
    * existed, every IVF consumer (nprobe=1, multiprobe, IVF-PQ,
    * semantic dedup) re-ran the N×K assignment join per call — measured
    * at 1M vectors that is ~185 s of redundant cosine evaluation per
    * serve (ANN_1M.md), and at 10⁹ vectors it is the difference between
    * an index and a full-corpus scan per query family. The index is
    * NARROW on purpose: embeddings re-attach via an equi-join on
    * vec_id (co-partitionable, broadcastable at small SF) instead of
    * being duplicated into the index files. */
  def ivfAssignIndex(emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long] = None): DataFrame =
    Materialize.index(emb.sparkSession, ivfKey("ivfAssign", emb, minCentroids, corpusCount)) {
      val (cents1, k) = ivfCentroids(emb, minCentroids, corpusCount)
      // narrow end-to-end: score WITHOUT carrying the vector and
      // argmax over (cent_id, ccos) only — same winners, 10× smaller
      // rows through the N×K stream (see [[argmaxCellNarrow]])
      argmaxCellNarrow(scoreAgainst(emb, cents1, k, "ce1")
        .select(col("vec_id"), col("cent_id"), col("ccos")))
    }

  /** IVF INDEX INTROSPECTION — the [[Search.indexStats]] twin for the
    * ANN family: cell-occupancy distribution of the served assignment
    * index. `skew_permille` (max cell over mean cell, in permille) is
    * the number an operator watches before trusting nprobe cost
    * models — a skewed inverted file means one probe can cost many
    * mean-cells, exactly like a skewed shuffle partition; FAISS's
    * imbalance_factor serves the same role. All columns are exact
    * integers (permilles by BIGINT floor-division), computed by one
    * aggregate over the |cells|-sized occupancy table — the corpus
    * appears only through the already-materialized assignment index. */
  def ivfIndexStats(emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long] = None): DataFrame = {
    val (_, k) = ivfCentroids(emb, minCentroids, corpusCount)
    val cells = ivfAssignIndex(emb, minCentroids, corpusCount)
      .groupBy("cell").agg(count(lit(1)).as("cn"))
    cells.agg(
        sum(col("cn")).as("n_vectors"),
        count(lit(1)).as("n_cells_used"),
        min(col("cn")).as("cell_min"),
        max(col("cn")).as("cell_max"))
      .withColumn("n_cells", lit(k.toLong))
      .select(col("n_vectors"), col("n_cells"), col("n_cells_used"),
        col("cell_min"), col("cell_max"),
        expr("1000 * n_vectors div n_cells_used").as("mean_permille"),
        expr("1000 * cell_max * n_cells_used div n_vectors").as("skew_permille"))
  }

  /** ANN RECALL AUDIT — the approximate ANN probes graded against their
    * own brute-force ground truth in one registered query (the
    * [[graft.operators.Dedup.lshRecallAudit]] twin for the vector
    * family). One row per method: nprobe=1 home-cell probe, the
    * int8-in-IVF serving default (nprobe=2 + refine), and nprobe=2
    * exact multiprobe, each vs exact top-k under the same
    * (cos desc, cand_id) total order. Multiprobe recall is provably ≥ single-probe recall
    * (its candidate set is a superset, and a true top-k member beaten by
    * ≤ k−1 vectors globally is beaten by ≤ k−1 in any subset), so the
    * oracle pins the nprobe lever's direction, not just its value.
    * Precision here is precision@k vs the exact top-k (NOT 1000 by
    * construction — IVF misses rank true neighbors out). Shape: three
    * probe subtrees over the shared materialized assignment index, then
    * tag-union aggregates over the O(nQueries·k) pair sets — corpus-size
    * cost is the probes themselves, which the registry already pays. */
  def annRecallAudit(emb: DataFrame, minCentroids: Int, nQueries: Int,
      k: Int, corpusCount: Option[Long] = None): DataFrame = {
    // STAGE the ground truth: both grade() branches consume it, and
    // unstaged the corpus-scan brute leg would execute once per branch
    // (the zipfAlpha unstaged-fan-out lesson; review finding)
    val truth = Materialize.stage(
      bruteForceTopK(emb, nQueries, k, corpusCount)
        .select(col("query_id"), col("cand_id")))
    def grade(method: String, approx: DataFrame): DataFrame =
      truth.select(col("query_id"), col("cand_id"),
          lit(1L).as("in_t"), lit(0L).as("in_a"))
        .union(approx.select(col("query_id"), col("cand_id"),
          lit(0L).as("in_t"), lit(1L).as("in_a")))
        .groupBy("query_id", "cand_id")
        .agg(max(col("in_t")).as("t"), max(col("in_a")).as("a"))
        .agg(sum(col("t")).as("n_truth"), sum(col("a")).as("n_ann"),
          sum(col("t") * col("a")).as("n_hit"))
        .select(lit(method).as("method"),
          col("n_truth"), col("n_ann"), col("n_hit"),
          expr("CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE 1000 * n_hit div n_truth END").as("recall_permille"),
          expr("CASE WHEN n_ann = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE 1000 * n_hit div n_ann END").as("precision_permille"))
    grade("ivf", ivfTopK(emb, minCentroids, nQueries, k, corpusCount))
      .union(grade("ivf_int8", ivfInt8TopK(emb, minCentroids, nQueries, k,
        nprobe = 2, refine = 4, corpusCount = corpusCount)))
      .union(grade("ivf_p2",
        ivfTopK(emb, minCentroids, nQueries, k, corpusCount, nprobe = 2)))
      .orderBy("method")
  }

  /** Assignment with embeddings re-attached — (vec_id, embedding, cell,
    * ccos), the working shape every IVF consumer scores against. */
  def ivfAssign(emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long] = None): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .join(ivfAssignIndex(emb, minCentroids, corpusCount), "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"), col("ccos"))

  /** Probe cells: each query ranks every centroid in its own tiny plan
    * (nQueries × K rows, never the corpus) by (rounded cosine DESC,
    * centroid id ASC) and keeps the top `nprobe` as (query_id, qe,
    * qcell). Rank 1 is the home cell — the assignment index's argmax —
    * so probe sets only grow with nprobe. */
  private[graft] def probeCells(emb: DataFrame, minCentroids: Int, nQueries: Int,
      nprobe: Int, corpusCount: Option[Long]): DataFrame = {
    val (cents1, kc) = ivfCentroids(emb, minCentroids, corpusCount)
    topPerQuery(scoreAgainst(emb.filter(col("vec_id") < nQueries), cents1, kc, "ce1")
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("cent_id").as("cand_id"), col("ccos")),
      "ccos", nprobe)
      .select(col("query_id"), col("qe"), col("cand_id").as("qcell"))
  }

  /** The query slice with its home cell read off an assignment view. */
  private def homeCells(assigned: DataFrame, nQueries: Int): DataFrame =
    queries(assigned, nQueries, col("embedding").as("qe"), col("cell").as("qcell"))

  /** Exact top-k over the candidates in each query's cells. */
  private[graft] def cellTopK(assigned: DataFrame, qs: DataFrame, k: Int): DataFrame =
    ranked(cosineScored(assigned, qs, Some(col("cell") === col("qcell")),
      "qe", "embedding"), "cos_sim", k)

  /** IVF top-k: each query searches its `nprobe` nearest cells — the
    * second ANN scale path (sign-LSH buckets being the other). nprobe =
    * 1 is the home cell, read straight off the materialized assignment
    * index, so it needs no query-slice ranking plan. nprobe > 1 is
    * MULTIPROBE, the standard recall repair for coarse quantization (a
    * query near a cell boundary has its true neighbors in the adjacent
    * cell): candidates are a superset of nprobe = 1's, so recall is
    * monotonically ≥ at nprobe × the scoring cost. No dedup is needed:
    * a candidate lives in exactly one home cell and a query's probe
    * cells are distinct, so each (query, cand) joins once. */
  def ivfTopK(emb: DataFrame, minCentroids: Int, nQueries: Int, k: Int,
      corpusCount: Option[Long] = None, nprobe: Int = 1): DataFrame = {
    val assigned = ivfAssign(emb, minCentroids, corpusCount)
    cellTopK(assigned,
      if (nprobe == 1) homeCells(assigned, nQueries)
      else probeCells(emb, minCentroids, nQueries, nprobe, corpusCount),
      k)
  }

  // ---- incremental adds (the FAISS IVF `add` semantics) ---------------
  //
  // r10 verdict item 6: a production vector index ingests new vectors
  // continuously; retraining the coarse quantizer per batch is a
  // corpus-sized job for a batch-sized change. The FAISS answer — and
  // this engine's postings-delta pattern applied to the inverted file:
  // new vectors are assigned to the EXISTING durable centroids
  // (quantizer FROZEN), the delta assignment unions into the serving
  // view, and probes see base ∪ delta transparently. Delta cost is
  // |Δ|·K cosine evaluations through the same hash-aggregated argmax —
  // never corpus-sized. Because each vector's cell depends only on
  // itself and the frozen centroid table, union(assign(base),
  // assign(Δ)) ≡ assign(base ∪ Δ) under those centroids as a relational
  // identity — DedupSimilaritySpec pins it on real data, and the
  // ann_ivf_incremental oracle retrains + reassigns from scratch in
  // DuckDB (base-prefix geometry), so the driver hash gate holds the
  // whole add path to the rebuild answer.
  //
  // DRIFT POLICY (documented, caller-owned like postings compaction):
  // frozen centroids degrade recall as the vector distribution drifts
  // away from the base sample — retrain when Σ|Δ| exceeds ~20% of
  // |base|. The retrain is the original sample-bounded training job
  // (TrainFactor·K vectors, NOT the corpus) plus one full re-assignment
  // — the same amortized price as postings compaction, triggered every
  // ~5 ingest batches at the 20% threshold.

  /** Assign ONLY the new vectors to a frozen centroid table — the
    * per-ingest-batch delta build (narrow (vec_id, cell, ccos) shape,
    * same packed hash-aggregated argmax as the base index). */
  def ivfAssignDelta(newVecs: DataFrame, cents: DataFrame, kc: Int): DataFrame =
    argmaxCellNarrow(
      scoreAgainst(newVecs, cents, kc, "ce1")
        .select(col("vec_id"), col("cent_id"), col("ccos")))

  /** IVF top-k served from union(durable base assignment, delta
    * assignment): base = the vec_id < baseCount prefix (centroids
    * trained on and keyed to the base alone), delta = everything newer,
    * assigned per serve at |Δ|·K cost. Same probe as [[ivfTopK]].
    *
    * `tombstones` (optional, a vec_id set): serve-time VECTOR DELETES —
    * the postings-tombstone pattern applied to the inverted file
    * (takedowns remove embeddings too). The anti-join drops deleted
    * vectors from BOTH roles: as candidates AND as queries (a deleted
    * query vector simply has no rows — the same shape as an OOV search
    * term). Physical removal happens at the next retrain/compaction,
    * exactly like postings. */
  def ivfTopKIncremental(emb: DataFrame, minCentroids: Int, nQueries: Int,
      k: Int, baseCount: Long,
      tombstones: Option[DataFrame] = None): DataFrame = {
    val base = emb.filter(col("vec_id") < baseCount)
    val delta = emb.filter(col("vec_id") >= baseCount)
    val (cents, kc) = ivfCentroids(base, minCentroids, Some(baseCount))
    val assignedNarrow0 = ivfAssignIndex(base, minCentroids, Some(baseCount))
      .unionByName(ivfAssignDelta(delta, cents, kc))
    val assignedNarrow = tombstones.fold(assignedNarrow0)(t =>
      assignedNarrow0.join(t.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .join(assignedNarrow, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"), col("ccos"))
    cellTopK(assigned, homeCells(assigned, nQueries), k)
  }

  /** Hot-bucket cap for the embedding near-dup self-join: a bucket
    * larger than this is dropped before pairing (same frequent-bucket
    * treatment as Dedup.MaxBandBucket). With 2^LshPlanes buckets the
    * candidate count otherwise grows as N²/2^planes — at 100 TB one
    * dense bucket emits billions of pairs on a single reducer. The cap
    * bounds per-bucket candidates at B²/2 BY CONSTRUCTION; it is part of
    * the operator's semantics and the oracle applies the identical cap.
    * The companion recall lever is [[planesFor]]: planes ≈
    * log2(N/TargetBucket) keeps expected bucket size ≤ TargetBucket as
    * the corpus grows, so the cap only ever trims pathological dense
    * cells instead of dropping nearly every bucket. */
  val MaxLshBucket = 512

  // ---- IVF-PQ ----------------------------------------------------------

  /** Product-quantization geometry: 64-dim vectors cut into [[PqSub]]
    * subspaces of [[PqSubDim]] dims, [[PqCodes]] codes per subspace
    * (4-bit codes → a vector compresses to 16 nibbles = 8 bytes; at
    * 10⁹ vectors the code table is 8 GB where the float corpus is
    * 256 GB — the compression is what makes billion-scale ANN
    * serveable). 16×4-dim (not 8×8-dim): for a fixed code budget,
    * more/smaller subspaces quantize far finer — k^(2/D) variance
    * reduction per subspace is 16^(1/2) at D=4 vs 16^(1/4) at D=8 —
    * at identical total encode cost. Measured at 1M vectors the 8×8
    * geometry's within-cell ADC ranking was indistinguishable from
    * random (recall@10 = 0.019, ANN_1M.md round-8 "before"). */
  val PqSub = 16
  val PqSubDim = 4
  val PqCodes = 16

  /** ADC shortlist multiple: IVF-PQ ranks its cell's candidates by
    * quantized distance, keeps the top RefineFactor·k, and re-ranks
    * that shortlist with EXACT cosines over the original vectors — the
    * standard refine stage (FAISS IVFPQR; Jégou et al. 2011 §V). The
    * exact pass touches RefineFactor·k·nQueries vectors — negligible —
    * while repairing the quantization error that otherwise decides the
    * final ranking. 16 is the measured 1M operating point (ANN_1M.md
    * round 9: recall@10 0.778 at 8 → 0.914 at 16 → 0.978 at 32, serve
    * cost still far under brute; refine, not nprobe, is the recall
    * lever once the coarse cells already contain the true neighbors). */
  val RefineFactor = 16

  /** RESIDUAL subvector stream in EXACT micro-units over
    * (vec_id, embedding, ce) where `ce` is the assigned cell's
    * centroid: qa_j = floor(e[i]·10⁶ + 0.5) − floor(ce[i]·10⁶ + 0.5),
    * i = sub·[[PqSubDim]]+j, as BIGINT. Encoding residuals (vector −
    * coarse centroid), not raw vectors, is the heart of IVFPQ: within a
    * cell the raw vectors all sit near the centroid, so a GLOBAL
    * codebook spends its 4 bits spanning the whole space and resolves
    * nothing inside the cell, while a residual codebook spends them on
    * exactly the within-cell offsets the ranking depends on. All PQ
    * distances stay exact integer arithmetic — no float-sum ordering or
    * libm variance anywhere in the index, so the oracle reproduces
    * every distance bit-for-bit. */
  private def residualSubvecs(embWithCent: DataFrame,
      keyCols: Seq[String] = Seq("vec_id")): DataFrame = {
    val qas = (1 to PqSubDim).map(j =>
      (floor(element_at(col("embedding"), col("sub") * PqSubDim + j).cast("double")
        * lit(1000000.0) + lit(0.5)).cast("long")
        - floor(element_at(col("ce"), col("sub") * PqSubDim + j).cast("double")
        * lit(1000000.0) + lit(0.5)).cast("long")).as(s"qa$j"))
    embWithCent.select(keyCols.map(col) ++ Seq(
        explode(sequence(lit(0), lit(PqSub - 1))).as("sub"),
        col("embedding"), col("ce")): _*)
      .select(keyCols.map(col) ++ (col("sub") +: qas): _*)
  }

  /** (vec_id, embedding, ce): each vector paired with its home cell's
    * centroid — assignment from the narrow index, centroid table
    * broadcast under the provable-size gate. */
  private def withCentroid(emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long]): DataFrame = {
    val (cents1, kc) = ivfCentroids(emb, minCentroids, corpusCount)
    val cside = cents1.select(col("cent_id").as("cell"), col("ce1").as("ce"))
    val joined = if (kc <= MaxBroadcastCentroids) broadcast(cside) else cside
    ivfAssign(emb, minCentroids, corpusCount)
      .join(joined, "cell")
      .select(col("vec_id"), col("embedding"), col("ce"))
  }

  /** Σ (qa_j − qc_j)² over one subspace — exact BIGINT L2². */
  private def pqDist: Column =
    (1 to PqSubDim).map { j =>
      val d = col(s"qa$j") - col(s"qc$j"); d * d
    }.reduce(_ + _)

  /** PQ codebook — (sub, code, qc1..qc4), ≤ [[PqSub]]·[[PqCodes]] rows,
    * trained on RESIDUAL subvectors. Training mirrors the IVF build:
    * deterministic seeds (residual subvectors of the first [[PqCodes]]
    * vectors), one Lloyd round on the bounded sample (first PqCodes²
    * vectors), centroids re-centered in integer micro-units
    * (floor(mean + 0.5) on the exact BIGINT sum). Memoized per
    * (session, corpus, params) like the IVF centroid table — an index
    * is built once. Key carries a version tag (v2 = residual 16×4
    * geometry) so a durable index dir written by the pre-residual code
    * can never be served to this one. */
  private def pqCodebook(emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long]): DataFrame =
    Materialize.index(emb.sparkSession,
        ivfKey("pqCodebook:v2", emb, minCentroids, corpusCount)) {
      // sample filter AFTER centroid attachment: the coarse quantizer
      // and assignment are the full-corpus index structures; only the
      // codebook's Lloyd step trains on the bounded prefix (the
      // vec_id predicate pushes through the join to both scans)
      val sv = residualSubvecs(
        withCentroid(emb, minCentroids, corpusCount)
          .filter(col("vec_id") < PqCodes.toLong * PqCodes))
      val seeds = sv.filter(col("vec_id") < PqCodes)
        .select(col("sub") +: col("vec_id").as("code") +:
          (1 to PqSubDim).map(j => col(s"qa$j").as(s"qc$j")): _*)
      val assigned = sv.join(broadcast(seeds), "sub")
        .select(col("vec_id") +: col("sub") +: col("code") +: pqDist.as("d") +:
          (1 to PqSubDim).map(j => col(s"qa$j")): _*)
        .groupBy(col("vec_id"), col("sub"))
        .agg(max_by(struct(col("code") +: (1 to PqSubDim).map(j => col(s"qa$j")): _*),
          struct((-col("d")).as("nd"), (-col("code")).as("nc"))).as("w"))
        .select(col("sub") +: col("w.code").as("code") +:
          (1 to PqSubDim).map(j => col(s"w.qa$j").as(s"qa$j")): _*)
      val sums = (1 to PqSubDim).map(j => sum(col(s"qa$j")).as(s"s$j"))
      val cents = assigned.groupBy(col("sub"), col("code"))
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("cnt")): _*)
        .select(col("sub") +: col("code") +: (1 to PqSubDim).map(j =>
          floor(col(s"s$j").cast("double") / col("cnt").cast("double") + lit(0.5))
            .cast("long").as(s"qc$j")): _*)
      cents
    }

  /** Corpus PQ codes: per (vector, subspace) the argmin-distance code
    * (ties → lower code id). Like [[argmaxCellNarrow]], the argmin is
    * PACKED into one BIGINT and reduced with plain min(): pqDist is
    * already an exact integer (micro-unit L2², ≤ ~10¹⁴), so
    * dist·[[PqCodes]] + code is a faithful total order on
    * (dist ASC, code ASC) with no precision loss. The struct-keyed
    * max_by it replaces planned as SortAggregate, which sorted the
    * full N×[[PqSub]]×[[PqCodes]] encode stream — at 10M vectors that
    * is 2.6·10⁹ rows (~120 GB of sort spill, past this host's disk;
    * the second round-10 `ann_pq` scenario failure). The LONG min() runs
    * through HashAggregate codegen and folds map-side to one row per
    * (vector, subspace). */
  private def pqEncode(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), "sub")
      .select(col("vec_id"), col("sub"),
        (pqDist * lit(PqCodes.toLong) + col("code")).as("pk"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("pk")).as("pk"))
      .select(col("vec_id"), col("sub"),
        (col("pk") % lit(PqCodes.toLong)).as("code"))

  /** The PQ CODE TABLE as a built-once index, stored PACKED: all
    * [[PqSub]]=16 4-bit codes of a vector in ONE BIGINT (bit_or of
    * disjoint shifts — exactly 64 bits), so the durable structure is
    * genuinely ~8 B/vec + key, the footprint that justifies PQ at 10⁹
    * vectors. Round 10 finding (the `ann_pq` scenario at 200k): the previous
    * flat (vec_id, sub, code) layout cost ~90 B/vec on disk — MORE
    * than the int8 corpus it was supposed to undercut; packing is
    * lossless (codes identical, byte-for-byte) and restores the 8×
    * advantage. Serving unpacks lazily — explode over the 16 subspace
    * slots + shift/mask, a map-only view over the packed scan; every
    * downstream consumer still sees (vec_id, sub, code). Encoding
    * touches every corpus vector × [[PqCodes]] codes, so like the
    * assignment index it runs once per (session, corpus, params).
    * Key tag v3 = packed layout (a v2 flat dir is never reused). */
  private def pqCodesIndex(emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long]): DataFrame = {
    val key = ivfKey("pqCodes:v3", emb, minCentroids, corpusCount)
    Materialize.memo(emb.sparkSession, key) {
      val packed = Materialize.table(emb.sparkSession, key)(
        pqEncode(residualSubvecs(withCentroid(emb, minCentroids, corpusCount)),
          pqCodebook(emb, minCentroids, corpusCount))
          .groupBy(col("vec_id"))
          .agg(expr("bit_or(shiftleft(code, sub * 4))").as("packed")))
      packed.select(col("vec_id"), col("packed"),
          explode(sequence(lit(0), lit(PqSub - 1))).as("sub"))
        .select(col("vec_id"), col("sub"),
          expr("shiftright(packed, sub * 4) & CAST(15 AS BIGINT)").as("code"))
    }
  }

  /** IVF-PQ top-k with refine — the production ANN index shape (FAISS
    * `IVFx,PQy` + refine; Jégou et al. 2011): the IVF coarse quantizer
    * restricts candidates to the query's `nprobe` best cells (nprobe=1 =
    * home cell only); candidates are scored by
    * ASYMMETRIC DISTANCE COMPUTATION over RESIDUALS — the query
    * precomputes its residual's distance to every codebook centroid (a
    * [[PqSub]]×[[PqCodes]] table), and a candidate's approximate
    * distance is the SUM of [[PqSub]] table lookups on its stored
    * nibbles, never touching the candidate's floats; the ADC top
    * [[RefineFactor]]·k shortlist is then re-ranked with exact cosines.
    *
    * Scale shape: all three index structures (centroid table, code
    * table, codebook) are memoized one-time builds; a SERVE touches the
    * narrow assignment index, the narrow code table, one broadcast
    * distance table (nQueries·[[PqSub]]·[[PqCodes]] rows), a
    * map-side-combinable SUM, and an exact re-rank bounded at
    * RefineFactor·k·nQueries vector reads — no corpus-scale float math
    * per query. All ADC distances are exact BIGINTs, so shortlist ties
    * break identically everywhere; the refined cosines reuse the
    * round-6 chain the other ANN paths pin.
    *
    * Sizing `refine` (measured, ANN_1M.md 10M section): refine is a
    * FRACTION-OF-CELL knob, not a constant — it must scale with cell
    * occupancy N/cells. refine=16 re-ranks the ADC-top-16% of a ~1k-row
    * cell (recall 0.914 at 1M) but only the top 1.6% once the same cells
    * hold 10M vectors (recall 0.644); refine=160 restores 0.928 there at
    * serve cost still 7× under brute, because the exact re-rank reads
    * refine·k·nQueries vectors regardless of corpus size. Rule:
    * refine ≈ 0.16·N/cells, with cells grown as √N so both stay bounded.
    * When to prefer this path over [[ivfInt8TopK]]: bytes-bound serving —
    * the packed code table is 12.2 B/vec on disk vs 70.6 B/vec for the
    * int8 index (5.8× smaller serving set, 21.5× under raw float). */
  def ivfPqTopK(emb: DataFrame, minCentroids: Int, nQueries: Int, k: Int,
      corpusCount: Option[Long] = None, nprobe: Int = 1,
      refine: Int = RefineFactor): DataFrame = {
    val (cents1, kc) = ivfCentroids(emb, minCentroids, corpusCount)
    val cb = pqCodebook(emb, minCentroids, corpusCount)
    val codes = pqCodesIndex(emb, minCentroids, corpusCount)
    val probes = probeCells(emb, minCentroids, nQueries, nprobe, corpusCount)
    val cand = ivfAssignIndex(emb, minCentroids, corpusCount)
      .select(col("vec_id"), col("cell"))
      .join(broadcast(probes.select(col("query_id"), col("qcell"))),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("qcell"))
    // query distance tables PER PROBED CELL: a probed cell's candidates
    // are coded as residuals against THAT cell's centroid, so the query
    // must be quantized in the same frame — its residual is recomputed
    // against each probe cell's centroid (classic per-cell lookup
    // tables). nQueries × nprobe × PqSub × PqCodes rows — broadcast.
    val centSide = cents1.select(col("cent_id").as("qcell"), col("ce1").as("ce"))
    val probeCent = probes.select(col("query_id"), col("qe").as("embedding"), col("qcell"))
      .join(if (kc <= MaxBroadcastCentroids) broadcast(centSide) else centSide, "qcell")
    val qdt = residualSubvecs(probeCent, Seq("query_id", "qcell"))
      .join(broadcast(cb), "sub")
      .select(col("query_id"), col("qcell"), col("sub"), col("code"),
        pqDist.as("dpart"))
    // the ADC scorer: a candidate's distance is the sum of its PqSub
    // table lookups, never touching its floats
    val adc = cand
      .join(codes.select(col("vec_id").as("cand_id"), col("sub"), col("code")),
        "cand_id")
      .join(broadcast(qdt), Seq("query_id", "qcell", "sub", "code"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("dpart")).as("adc_dist"))
    exactRefine(emb, topPerQuery(adc, "adc_dist", refine * k, ascending = true),
      nQueries, k)
  }

  /** SEMANTIC DEDUP (the SemDeDup shape, Abbas et al. 2023): cluster
    * the embedding space with the shared IVF coarse quantizer, elect a
    * per-cell REPRESENTATIVE (the member most central to its cell:
    * max centroid-cosine, min vec_id on ties), and flag every other
    * member whose cosine to the representative clears `threshold` as a
    * semantic duplicate. Complements pairwise [[embeddingNearDup]]: cost
    * is ONE cosine per vector (vs per candidate pair), which is what
    * makes semantic dedup runnable on corpora where even bucketed
    * pairwise comparison is too big.
    *
    * Scale shape: assignment is the memoized index build + a
    * partial-aggregable argmax (no corpus window); representative
    * election is the same argmax pattern per CELL (K rows out); the
    * K-row rep table joins back broadcast under the same provable-size
    * gate as the centroid table. One corpus shuffle total (the argmax
    * groupBy), everything else is map-side. */
  def semanticDedup(emb: DataFrame, minCentroids: Int, threshold: Double,
      corpusCount: Option[Long] = None): DataFrame = {
    val spark = emb.sparkSession
    val (_, kc) = ivfCentroids(emb, minCentroids, corpusCount)
    val assigned = ivfAssign(emb, minCentroids, corpusCount)
    val reps = assigned.groupBy(col("cell"))
      .agg(max_by(struct(col("vec_id"), col("embedding")),
        struct(col("ccos"), (-col("vec_id")).as("nv"))).as("r"))
      .select(col("cell"), col("r.vec_id").as("rep_id"),
        col("r.embedding").as("re"))
    val repSide = if (kc <= MaxBroadcastCentroids) broadcast(reps) else reps
    assigned.join(repSide, "cell")
      .select(col("vec_id"), col("cell"), col("rep_id"),
        roundedCos(spark, col("embedding"), col("re")).as("rep_cos"))
      .withColumn("is_dup",
        col("vec_id") =!= col("rep_id") && col("rep_cos") >= threshold)
      .orderBy("vec_id")
  }

  /** Embedding-cosine near-duplicates: same-LSH-bucket pairs with
    * rounded cosine >= threshold — completes the dedup taxonomy (exact,
    * MinHash+LSH, char-n-gram, SimHash, embedding-cosine). Scale shape:
    * the 6-bit bucket equi-join replaces the quadratic all-pairs cross
    * product (~64x candidate reduction); recall tunes via LshPlanes.
    * Approximate by design, like any LSH near-dup pass.
    *
    * The capped signature table is an INDEX, built EAGERLY by
    * [[Dedup.cappedBands]] with the hot-bucket cap of
    * [[Dedup.cappedBandsPlan]] on `bucket`: the raw signature table
    * feeds the viral aggregate, the anti-join probe side, and (through
    * the capped table) BOTH sides of the pair self-join — left lazy,
    * the embedding scan + bucket computation re-runs per consumer. */
  def embeddingNearDup(emb: DataFrame, threshold: Double,
      maxBucket: Int = MaxLshBucket,
      corpusCount: Option[Long] = None,
      materialize: (() => DataFrame) => DataFrame =
        t => t().localCheckpoint()): DataFrame = {
    val spark = emb.sparkSession
    val sig = Dedup.cappedBands(emb, maxBucket, materialize, table = { e =>
      val planes = planesFor(corpusCount.getOrElse(Materialize.count(e)))
      e.select(col("vec_id"), col("embedding"),
        lshBucketCol(spark, col("embedding"), planes).as("bucket"))
    }, key = "bucket")
    sig.as("x").join(sig.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        roundedCos(spark, col("x.embedding"), col("y.embedding")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Int8-QUANTIZED brute-force cosine top-k: per-vector symmetric
    * scalar quantization q[i] = floor(e[i] * 127/max|e| + 0.5), cosine
    * computed over the quantized vectors. Quantization is the
    * memory/IO scale lever every production vector store applies before
    * search (4x smaller vectors, integer dot products, SIMD-friendly);
    * at 100 TB the embedding column is the dominant scan cost and this
    * is the column you persist. Correctness design: quantized elements
    * are small integers (|q| <= 127), so dots and norms are exact in
    * double and the oracle reproduces them bit-identically;
    * floor(x + 0.5) is used instead of round() because engines disagree
    * on round-half-away vs round-half-even for negative doubles, while
    * floor is exact everywhere. Plan shape: identical to
    * [[bruteForceTopK]] — broadcast the tiny query set, no corpus
    * shuffle, per-query top-k window. */
  /** The QUANTIZED CORPUS as a built-once index — (vec_id, qv), the
    * 4×-smaller column a production vector store persists and serves
    * from. Materialized for two reasons: it is what "quantize the
    * corpus" means at scale (pay the transform once, not per query
    * batch), and without it Catalyst's projection collapse inlines the
    * 64-element quantization transform into the score join's output
    * projection, re-quantizing every corpus vector once per QUERY PAIR
    * (measured 3× over float brute force at 1M×64 queries — the exact
    * inversion of the feature's purpose). */
  private def quantizedCorpus(emb: DataFrame): DataFrame =
    Materialize.index(emb.sparkSession, indexKey("int8Corpus", emb)) {
        val maxAbs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
        emb.select(col("vec_id"), col("embedding"))
          .withColumn("max_abs", maxAbs)
          .filter(col("max_abs") > 0)
          // FLOAT storage: quantized values are integers in [-127, 127],
          // exactly representable in float32, so the float→double read
          // in cosine_sim recovers the identical double and the oracle
          // hash is unchanged — at half the index bytes (the whole point
          // of quantization is scan volume; tinyint would quarter it
          // again but needs an int-array cosine expression)
          .withColumn("qv", transform(col("embedding"), x =>
            floor(x.cast("double") * (lit(127.0) / col("max_abs")) + lit(0.5)).cast("float")))
          .select(col("vec_id"), col("qv"))
    }

  def quantizedTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = quantizedCorpus(emb)
    ranked(cosineScored(base, queries(base, nQueries, col("qv").as("qa")), None,
      "qa", "qv", "qcos"), "qcos", k)
  }

  /** The int8-in-IVF serving index: the quantized corpus CO-LOCATED
    * with its inverted-file cell — (vec_id, cell, qv), the table a
    * production store lays out cell-clustered so a probe reads only its
    * cells' byte rows. Built once per (session, corpus, params) by
    * joining the two existing narrow indexes; without this the
    * corpus-sized assignment⋈quantized join would re-run per serve. */
  private def int8IvfIndex(emb: DataFrame, minCentroids: Int,
      corpusCount: Option[Long]): DataFrame =
    Materialize.index(emb.sparkSession, ivfKey("int8Ivf:v1", emb, minCentroids, corpusCount))(
      quantizedCorpus(emb).join(
        ivfAssignIndex(emb, minCentroids, corpusCount)
          .select(col("vec_id"), col("cell")), "vec_id"))

  /** Int8 scoring INSIDE IVF cells with exact re-rank — the standard
    * composition (FAISS `IVFx,SQ8` + refine): the coarse quantizer
    * restricts candidates to the query's `nprobe` best cells, the
    * within-cell ranking runs over 4×-smaller int8 vectors (integer
    * dots, exact in double — same quantizer as [[quantizedTopK]]), and
    * the top refine·k shortlist is re-ranked with true float cosines.
    * Standalone int8 brute force keeps the linear corpus scan (it only
    * shrinks the bytes); composed with IVF the scan drops to
    * nprobe/√N of the corpus AND those rows are 4× smaller — this is
    * the variant that earns the quantization build at scale. Unlike
    * PQ's residual codes, an int8 vector is frame-independent, so one
    * quantized query scores in every probed cell with no per-cell
    * tables. */
  def ivfInt8TopK(emb: DataFrame, minCentroids: Int, nQueries: Int, k: Int,
      nprobe: Int = 2, refine: Int = 4,
      corpusCount: Option[Long] = None): DataFrame = {
    val corpus = int8IvfIndex(emb, minCentroids, corpusCount)
    val qs = queries(corpus, nQueries, col("qv").as("qa"))
      .join(probeCells(emb, minCentroids, nQueries, nprobe, corpusCount)
        .select(col("query_id"), col("qcell")), "query_id")
    val short = topPerQuery(cosineScored(corpus, qs, Some(col("cell") === col("qcell")),
      "qa", "qv", "qcos"), "qcos", refine * k)
    exactRefine(emb, short, nQueries, k)
  }

  /** EMBEDDING SPLIT DRIFT: pairwise cosine between the train/val/test
    * CENTROIDS of the embedding corpus — the representation-space twin
    * of the token-level KL drift audit (a hash split should leave the
    * three splits' mean vectors nearly colinear; a low cross-split
    * centroid cosine flags a leaked ordering or a non-uniform split
    * upstream of training). Split = the same md5-nibble 8/1/1
    * assignment as the document split, keyed on vec_id. Centroids
    * accumulate in exact integer micro-units (order-independent BIGINT
    * sums — the trainCentroids pattern) and divide back in a fixed
    * double sequence, so the oracle reproduces the three vectors and
    * their cosines bit-for-bit. One partial-aggregable pass; the
    * pairwise stage is a 3-row self-join. */
  def embeddingSplitDrift(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    // the ONE shared split definition, keyed on vec_id (review finding:
    // an inline copy of the nibble/threshold arithmetic could silently
    // diverge from the document split if either changed)
    val split = splitOf(col("vec_id"))
    val sums = (1 to Dim).map(i =>
      sum(floor(element_at(col("embedding"), i).cast("double") * lit(1000000.0)
        + lit(0.5)).cast("long")).as(s"s$i"))
    val cents = emb.select(split.as("split"), col("embedding"))
      .groupBy("split")
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("cnt")): _*)
      .select(col("split"), col("cnt"),
        array((1 to Dim).map(i =>
          col(s"s$i").cast("double") / col("cnt").cast("double") / lit(1000000.0)): _*)
          .as("ce"))
    cents.as("a").join(broadcast(cents.as("b")),
        col("a.split") < col("b.split"))
      .select(col("a.split").as("split_a"), col("b.split").as("split_b"),
        col("a.cnt").as("n_a"), col("b.cnt").as("n_b"),
        roundedCos(spark, col("a.ce"), col("b.ce")).as("centroid_cos"))
      .orderBy("split_a", "split_b")
  }

  /** Per-label embedding stats; the per-vector norm is rounded to 6
    * digits and summed in DECIMAL so the cross-row aggregation is
    * order-independent (portable across engines). */
  def embeddingStats(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        round(sqrt(norm2Col(col("embedding"))), 6).as("norm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        (sum(col("norm").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("avg_norm"))
      .orderBy("label")

  /** INT8-QUANTIZATION ERROR AUDIT — the measured-error companion of
    * [[quantizedTopK]]'s serving index (the sketch-audit pattern): the
    * per-element residual of the EXACT quantizer the index applies
    * (q = floor(x·127/max|x| + 0.5)), expressed in quantization-STEP
    * units (r = x·127/max − q ∈ [−½, ½] by construction) and
    * 1e-4-quantized before aggregation so both engines sum identical
    * integers. The scaling `x·(127/max_abs)` mirrors the quantizer's
    * expression op-for-op — one division then one multiply, the same
    * IEEE sequence, bit-identical doubles cross-engine. Per label:
    * vector count, mean and max |residual| (mean ≈ 0.25 steps for a
    * healthy rounding quantizer; max ≤ 0.5 PROVABLY — a larger value
    * is a quantizer bug, and the hash gate would catch it). One
    * map-side pass, |labels| output rows. */
  def quantizationError(emb: DataFrame): DataFrame = {
    val maxAbs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val scaled = (x: Column) => x.cast("double") * (lit(127.0) / col("max_abs"))
    emb.select(col("label"), col("embedding"))
      .withColumn("max_abs", maxAbs)
      // NaN guard (review finding): NaN sorts greatest in array_max on
      // both engines and passes > 0, but the engines then diverge
      // (Spark ANSI cast aborts, DuckDB CAST errors) — a NaN-poisoned
      // vector is excluded from the audit identically on both sides
      .filter(col("max_abs") > 0 && !isnan(col("max_abs")))
      .select(col("label"), explode(transform(col("embedding"), x =>
        floor((scaled(x) - floor(scaled(x) + lit(0.5))) * lit(10000.0)
          + lit(0.5)).cast("long"))).as("rq"))
      .groupBy("label")
      .agg(count(lit(1)).as("nd"),
        sum(abs(col("rq"))).as("sa"),
        max(abs(col("rq"))).as("max_abs_q4"))
      .select(col("label"),
        expr(s"CAST(nd div $Dim AS BIGINT)").as("n_vectors"),
        expr("CAST(sa div nd AS BIGINT)").as("mean_abs_q4"),
        col("max_abs_q4"))
      .orderBy("label")
  }

  /** Deterministic start direction for [[embeddingPcaPower]], shared
    * with the oracle builder (v0_j = 10⁶ − 10³·j: fixed, integer,
    * non-degenerate — distinct weight per dimension). */
  def pcaStartVector: Seq[Long] = (0 until Dim).map(j => 1000000L - 1000L * j)

  /** Registry round count for [[embeddingPcaPower]] — ONE constant
    * shared by the QueryDef and the unrolled oracle, so raising the
    * depth can never desynchronize the two orbits (review finding). */
  val PcaIters = 6

  /** TOP PRINCIPAL DIRECTION of the embedding cloud via POWER
    * ITERATION on the (uncentered) second-moment operator A = Σ x·xᵀ —
    * the spectral embedding-QA statistic (a dominant direction with
    * outsized mass marks anisotropy/collapse; its loadings say which
    * dimensions carry it). The iteration never materializes A (64×64
    * would be fine, but the pattern must hold for Dim where it is
    * not): each round computes A·v as Σ_x x·(xᵀv) — one pass over the
    * vectors, map-side partial-aggregated into 64 per-dimension sums.
    *
    * EVERY step is integer arithmetic, so both engines walk the
    * IDENTICAL orbit: embeddings are milli-quantized once
    * (floor(x·10³ + 0.5) — exact on both engines' float→double reads),
    * v₀ is the fixed integer [[pcaStartVector]], per-row dots and the
    * per-dimension products are BIGINT, the per-dimension sums are
    * DECIMAL(38,0) (|w| ≤ N·4×10¹⁵ → scale-safe past 10¹² vectors),
    * and the rescale after each round is max-abs normalization to
    * ±10⁶ via sign-split truncating division — no norm, no sqrt, no
    * double anywhere. Power iteration is scale-invariant, so max-abs
    * rescaling converges to the same direction as L2.
    *
    * Shape at scale: `iters` corpus passes (each one partial-aggregated
    * (dim, x_j·dot) stream — the ×Dim explode is the codegen-safe
    * form; 2·Dim aggregate buffers fall out of whole-stage codegen,
    * the bootstrap_ci lesson), a 64-row shuffle each, and one-row
    * broadcast scalars for v and the rescale max. v is STAGED each
    * round — its lineage embeds the previous rounds' corpus passes,
    * and an unstaged chain re-executes them exponentially (the
    * recursive-CTE lesson). Output: 64 rows (dim, loading_micro).
    *
    * The contract is the k-STEP ORBIT, which is what the oracle pins
    * exactly; eigenvector ALIGNMENT additionally needs a spectral gap
    * (rate (λ₂/λ₁)^k — the driver's near-isotropic synthetic cloud
    * sits at 0.93, where no small k aligns; a planted anisotropic
    * fixture converges in 6, spec-pinned). Callers raise `iters` when
    * the data warrants it. */
  def embeddingPcaPower(emb: DataFrame, iters: Int = 6): DataFrame = {
    val xq = Materialize.stage(emb.select(
      expr("transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0" +
        " + 0.5) AS BIGINT))").as("xq")))
    val spark = emb.sparkSession
    var v: DataFrame = spark.range(1).select(
      array(pcaStartVector.map(lit): _*).as("v"))
    for (_ <- 1 to iters) {
      val dotted = xq.crossJoin(broadcast(v))
        .select(col("xq"),
          expr("aggregate(zip_with(xq, v, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, y) -> acc + y)").as("dot"))
      val w = dotted
        .select(posexplode(col("xq")).as(Seq("p", "xj")), col("dot"))
        .groupBy("p")
        .agg(sum((col("xj") * col("dot")).cast(DecimalType(38, 0))).as("w"))
      val m = w.agg(max(abs(col("w"))).as("m"))
      v = Materialize.stage(w.crossJoin(broadcast(m))
        .select(col("p"),
          expr("CAST(CASE WHEN m = 0 THEN 0 ELSE " +
            signedDivSql("w", "m") +
            " END AS BIGINT)").as("vj"))
        .agg(expr("transform(array_sort(collect_list(struct(p, vj))), " +
          "s -> s.vj)").as("v")))
    }
    v.select(posexplode(col("v")).as(Seq("dim", "loading_micro")))
      .select(col("dim").cast("long").as("dim"), col("loading_micro"))
      .orderBy("dim")
  }

  /** JOHNSON–LINDENSTRAUSS PROJECTION AUDIT — the dimensionality-
    * reduction twin of the quantization audits: project the 64-dim
    * embeddings to `outDims` via a SIGNED (±1, Achlioptas 2003) random
    * projection and measure, over deterministic stride-sampled pairs,
    * how well squared distances survive (ratio ||Py−Py'||²/(outDims·
    * ||y−y'||²) in ppm — the quantity JL bounds near 1). This is the
    * go/no-go gate before swapping a cheap projected index in front of
    * the exact distance path.
    *
    * Exactness: inputs milli-quantize (the pcaPower idiom), the sign
    * matrix derives from md5 nibble parity of "rp:i:j" (the simhash
    * nibble trick — no engine RNG anywhere), so projections, squared
    * distances, and ratios are all INT64 arithmetic, identical on both
    * engines. INT64 headroom: |y_i| ≤ 64·|x|_∞·10³, so the ppm-scaled
    * projected distance stays under ~10¹⁸ for unit-scale embeddings.
    *
    * Scale shape: the sign table is outDims·64 rows from ONE range (no
    * driver loop), broadcast into the posexplode stream; projection is
    * a map-side partial aggregate keyed (vec_id, i) — vec_id is the
    * scan's partition key, so nothing corpus-sized shuffles; each
    * stride's pair join is key-equi on vec_id. Pairs with d2_orig = 0
    * (exact duplicates) are excluded — their ratio is undefined and
    * the dedup family owns them. */
  def randomProjectionAudit(emb: DataFrame, outDims: Int = 16,
      strides: Seq[Int] = Seq(1, 17, 289)): DataFrame = {
    val spark = emb.sparkSession
    val signs = spark.range(outDims * 64L)
      .select(expr("id div 64").as("i"), expr("id % 64").as("j"))
      .withColumn("s",
        (hexNibble(md5(concat(lit("rp:"), col("i"), lit(":"), col("j"))), 0)
          .bitwiseAND(lit(1)) * 2 - 1).cast("long"))
      .select(col("i"), col("j"), col("s"))
    val xq = Materialize.stage(emb.select(col("vec_id"),
      expr("transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0" +
        " + 0.5) AS BIGINT))").as("xq")))
    val proj = xq
      .select(col("vec_id"), posexplode(col("xq")).as(Seq("j", "xj")))
      .join(broadcast(signs), "j")
      .groupBy(col("vec_id"), col("i"))
      .agg(sum(col("s") * col("xj")).as("y"))
    val t = Materialize.stage(xq.join(
      proj.groupBy("vec_id").agg(
        expr("transform(array_sort(collect_list(struct(i, y))), s -> s.y)")
          .as("yq")),
      "vec_id"))
    val pairRatios = strides.map { k =>
      t.as("a").join(t.as("b"), col("b.vec_id") === col("a.vec_id") + k)
        .select(lit(k.toLong).as("stride"),
          expr("aggregate(zip_with(a.xq, b.xq, (x, v) -> (x - v) * (x - v))," +
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d2_orig"),
          expr("aggregate(zip_with(a.yq, b.yq, (x, v) -> (x - v) * (x - v))," +
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d2_proj"))
    }.reduce(_ unionAll _)
    pairRatios
      .filter(col("d2_orig") > 0)
      .withColumn("ratio_ppm",
        expr(s"(1000000 * d2_proj) div ($outDims * d2_orig)"))
      .groupBy("stride")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(ratio_ppm) div count(1)").as("mean_ratio_ppm"),
        min(col("ratio_ppm")).as("min_ratio_ppm"),
        max(col("ratio_ppm")).as("max_ratio_ppm"),
        expr("(1000 * sum(CASE WHEN ratio_ppm BETWEEN 800000 AND 1200000" +
          " THEN 1 ELSE 0 END)) div count(1)").as("within20_permille"))
      .orderBy("stride")
  }
}
