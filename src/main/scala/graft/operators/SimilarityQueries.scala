package graft.operators

import graft.{QueryDef, Tables}

/** Driver-contract wiring for similarity search. Oracle SQL mirrors the
  * Spark plans with generated left-associated 64-term chains — the same
  * IEEE operation sequence, hence bit-identical cosines. */
object SimilarityQueries {

  private val Dim = Similarity.Dim

  private def dotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)").mkString(" + ")

  private def norm2Sql(a: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE)*CAST($a[$i] AS DOUBLE)").mkString(" + ")

  private[operators] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${norm2Sql(a)}) * sqrt(${norm2Sql(b)}))"

  private def projSql(e: String, j: Int): String =
    (1 to Dim).map { i =>
      val t = s"(${Similarity.lshSigns(j)(i - 1)}.0 * CAST($e[$i] AS DOUBLE))"
      t
    }.mkString(" + ")

  /** Scale-adaptive plane count as a one-row CTE — the EXACT integer
    * CASE ladder of Similarity.planesFor, computed from the same corpus
    * count Spark reads. */
  private def planesSql: String =
    s"SELECT ${Similarity.LshPlanes}" +
      (Similarity.LshPlanes until Similarity.MaxPlanes).map(p =>
        s" + (CASE WHEN count(*) > ${Similarity.TargetBucket.toLong << p} THEN 1 ELSE 0 END)")
        .mkString +
      " AS np FROM embeddings"

  /** Bucket id with planes j >= np masked off — mirrors the native
    * LshBucket expression at the derived plane count (plane j's sign row
    * is independent of the total count). Requires the planes CTE (np) in
    * scope. */
  private def bucketSql(e: String): String =
    (0 until Similarity.MaxPlanes)
      .map(j => s"(CASE WHEN $j < np AND (${projSql(e, j)}) > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")

  private val annTopkSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings),
       |p AS (SELECT query_id, cand_id, round(${cosSql("qe", "ce")}, 6) AS cos_sim
       |      FROM c JOIN q ON cand_id != query_id),
       |r AS (SELECT query_id, cand_id, cos_sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM r
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  private val annLshSql =
    s"""WITH pl AS ($planesSql),
       |s AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings, pl),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS qbucket FROM s WHERE vec_id < 16),
       |p AS (SELECT query_id, s.vec_id AS cand_id,
       |        round(${cosSql("qe", "s.embedding")}, 6) AS cos_sim
       |      FROM s JOIN q ON s.bucket = qbucket AND s.vec_id != query_id),
       |r AS (SELECT query_id, cand_id, cos_sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM r
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** Multiprobe LSH oracle: the probe set is the home bucket (sentinel
    * j = MaxPlanes) plus one single-bit flip per ACTIVE plane (j < np,
    * the CTE-derived count) — mirrors lshTopK's radius-1 deterministic
    * all-Hamming-1 probe list; probe buckets are distinct so each
    * (query, candidate) joins once. */
  private val annLshMultiprobeSql =
    s"""WITH pl AS ($planesSql),
       |s AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings, pl),
       |q AS (SELECT s.vec_id AS query_id, s.embedding AS qe,
       |        CASE WHEN r.j = ${Similarity.MaxPlanes} THEN s.bucket
       |             ELSE xor(s.bucket, (1 << r.j)) END AS qbucket
       |      FROM s, range(0, ${Similarity.MaxPlanes + 1}) r(j), pl
       |      WHERE s.vec_id < 16 AND (r.j = ${Similarity.MaxPlanes} OR r.j < np)),
       |p AS (SELECT query_id, s.vec_id AS cand_id,
       |        round(${cosSql("qe", "s.embedding")}, 6) AS cos_sim
       |      FROM s JOIN q ON s.bucket = qbucket AND s.vec_id != query_id),
       |r AS (SELECT query_id, cand_id, cos_sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM r
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** CTE chain `pl, s0, s, ep` ending in the thresholded same-bucket
    * embedding pair set (vec_a < vec_b) — shared by the standalone
    * near-dup query and the ensemble dedup oracle. `vecsWhere`
    * restricts the base corpus (the [[DocSlice]] sf1 measurement
    * mode; empty everywhere else) — it applies to BOTH the plane-count
    * CTE and the signature base, exactly like the Spark side deriving
    * planesFor from the sliced count. */
  private[operators] def embPairCtes(threshold: Double,
      vecsWhere: String = ""): String =
    s"""pl AS ($planesSql$vecsWhere),
       |s0 AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings, pl$vecsWhere),
       |s AS (
       |  SELECT vec_id, embedding, bucket FROM (
       |    SELECT *, count(*) OVER (PARTITION BY bucket) AS bn FROM s0)
       |  WHERE bn <= ${Similarity.MaxLshBucket}),
       |ep AS (
       |  SELECT vec_a, vec_b, cos_sim FROM (
       |    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |           round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos_sim
       |    FROM s x JOIN s y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |  WHERE cos_sim >= $threshold)""".stripMargin

  private val nearDupEmbSql =
    s"""WITH ${embPairCtes(0.35)}
       |SELECT vec_a, vec_b, cos_sim FROM ep ORDER BY vec_a, vec_b""".stripMargin

  /** Element i of a cell's Lloyd-mean centroid: exact integer-microunit
    * mean, mirroring the Spark aggregation bit-for-bit (floor-quantize →
    * BIGINT sum → fixed double-division sequence). DuckDB's sum(BIGINT)
    * returns HUGEINT, hence the inner re-CAST. */
  private def centMeanSql(i: Int): String =
    s"CAST(CAST(sum(CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1000000.0 + 0.5)" +
      s" AS BIGINT)) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0"

  /** Shared IVF training CTEs: √N centroid count, first-K seeds,
    * sample-bounded seed assignment (first TrainFactor·K vectors — the
    * production-shape training sample Similarity.ivfCentroids uses),
    * one Lloyd re-centering, rank vs iterated centroids. */
  private def ivfRankedCtes: String =
    s"""kk AS (SELECT GREATEST(8, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
       |       FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings, kk WHERE vec_id < k),
       |sc0 AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |         round(${cosSql("e.embedding", "c.ce")}, 6) AS ccos
       |  FROM embeddings e CROSS JOIN seeds c, kk
       |  WHERE e.vec_id < k * ${Similarity.TrainFactor}),
       |a0 AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY ccos DESC, cent_id ASC) AS rn FROM sc0)
       |  WHERE rn = 1),
       |cent AS (
       |  SELECT cell AS cent_id,
       |         list_value(${(1 to Dim).map(centMeanSql).mkString(", ")}) AS ce
       |  FROM a0 GROUP BY cell),
       |sc AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |         round(${cosSql("e.embedding", "c.ce")}, 6) AS ccos
       |  FROM embeddings e CROSS JOIN cent c),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY ccos DESC, cent_id ASC) AS rn FROM sc),
       |asg AS (
       |  SELECT vec_id, embedding, cent_id AS cell, ccos FROM ranked WHERE rn = 1)""".stripMargin

  /** Incremental-add oracle CTEs (ann_ivf_incremental): centroids
    * trained on the vec_id < (9N div 10) BASE prefix ONLY (the frozen
    * quantizer), then EVERY vector — base and delta alike — assigned
    * against them. This is exactly the union-serve identity the Spark
    * side implements: assignment is per-vector against the frozen
    * centroid table, so union(assign(base), assign(Δ)) =
    * assign(base ∪ Δ) — the driver hash gate holds the incremental add
    * path to this full retrain-free rebuild. */
  private def ivfIncrementalCtes: String =
    s"""bb AS (SELECT CAST(count(*) * 9 // 10 AS BIGINT) AS b FROM embeddings),
       |base AS (SELECT vec_id, embedding FROM embeddings, bb WHERE vec_id < b),
       |kk AS (SELECT GREATEST(8, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
       |       FROM base),
       |seeds AS (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM base, kk WHERE vec_id < k),
       |sc0 AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |         round(${cosSql("e.embedding", "c.ce")}, 6) AS ccos
       |  FROM base e CROSS JOIN seeds c, kk
       |  WHERE e.vec_id < k * ${Similarity.TrainFactor}),
       |a0 AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY ccos DESC, cent_id ASC) AS rn FROM sc0)
       |  WHERE rn = 1),
       |cent AS (
       |  SELECT cell AS cent_id,
       |         list_value(${(1 to Dim).map(centMeanSql).mkString(", ")}) AS ce
       |  FROM a0 GROUP BY cell),
       |sc AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |         round(${cosSql("e.embedding", "c.ce")}, 6) AS ccos
       |  FROM embeddings e CROSS JOIN cent c),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY ccos DESC, cent_id ASC) AS rn FROM sc),
       |asg AS (
       |  SELECT vec_id, embedding, cent_id AS cell, ccos FROM ranked WHERE rn = 1)""".stripMargin

  private val annIvfIncrementalSql =
    s"""WITH $ivfIncrementalCtes,
       |q AS (SELECT vec_id AS query_id, embedding AS qe, cell AS qcell
       |      FROM asg WHERE vec_id < 16),
       |p AS (SELECT query_id, a.vec_id AS cand_id,
       |        round(${cosSql("qe", "a.embedding")}, 6) AS cos_sim
       |      FROM asg a JOIN q ON a.cell = qcell AND a.vec_id != query_id),
       |r AS (SELECT query_id, cand_id, cos_sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM r
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** Vector-tombstone oracle: the incremental CTEs with deleted vectors
    * (vec_id ≡ 5 mod 11) dropped from the LIVE view only — the coarse
    * quantizer and assignment were TRAINED before the deletes (serve-
    * time semantics; physical removal waits for retrain/compaction),
    * and a deleted query vector has no rows at all. */
  private val annIvfTombstonedSql =
    s"""WITH $ivfIncrementalCtes,
       |live AS (SELECT * FROM asg WHERE vec_id % 11 != 5),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, cell AS qcell
       |      FROM live WHERE vec_id < 16),
       |p AS (SELECT query_id, a.vec_id AS cand_id,
       |        round(${cosSql("qe", "a.embedding")}, 6) AS cos_sim
       |      FROM live a JOIN q ON a.cell = qcell AND a.vec_id != query_id),
       |r AS (SELECT query_id, cand_id, cos_sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM r
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  private val annIvfSql =
    s"""WITH $ivfRankedCtes,
       |q AS (SELECT vec_id AS query_id, embedding AS qe, cell AS qcell
       |      FROM asg WHERE vec_id < 16),
       |p AS (SELECT query_id, a.vec_id AS cand_id,
       |        round(${cosSql("qe", "a.embedding")}, 6) AS cos_sim
       |      FROM asg a JOIN q ON a.cell = qcell AND a.vec_id != query_id),
       |r AS (SELECT query_id, cand_id, cos_sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM r
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** Multiprobe IVF (nprobe=2): same ranked-centroid CTEs; queries take
    * probe cells rn <= 2, candidates keep their rn = 1 home cell. */
  private val annIvfMultiprobeSql =
    s"""WITH $ivfRankedCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qe, cent_id AS qcell
       |  FROM ranked WHERE vec_id < 16 AND rn <= 2),
       |p AS (SELECT query_id, a.vec_id AS cand_id,
       |        round(${cosSql("qe", "a.embedding")}, 6) AS cos_sim
       |      FROM asg a JOIN probes ON a.cell = qcell AND a.vec_id != query_id),
       |r AS (SELECT query_id, cand_id, cos_sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM r
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** Recall-audit oracle: brute truth + both IVF probe shapes (the
    * annIvfSql / annIvfMultiprobeSql subtrees verbatim), tag-union
    * graded per method. asg/ranked are referenced by several subtrees —
    * DuckDB re-inlines the centroid chain, acceptable at oracle SF. */
  private val annRecallAuditSql = {
    def gradeSql(method: String, approx: String): String =
      s"""SELECT '$method' AS method,
         |  CAST(sum(t) AS BIGINT) AS n_truth, CAST(sum(a) AS BIGINT) AS n_ann,
         |  CAST(sum(t * a) AS BIGINT) AS n_hit
         |FROM (
         |  SELECT query_id, cand_id, max(t) AS t, max(a) AS a FROM (
         |    SELECT query_id, cand_id, 1 AS t, 0 AS a FROM truth
         |    UNION ALL
         |    SELECT query_id, cand_id, 0 AS t, 1 AS a FROM $approx) u0
         |  GROUP BY 1, 2) u""".stripMargin
    s"""WITH $ivfRankedCtes,
       |q AS (SELECT vec_id AS query_id, embedding AS qe, cell AS qcell
       |      FROM asg WHERE vec_id < 16),
       |p AS (SELECT query_id, a.vec_id AS cand_id,
       |        round(${cosSql("qe", "a.embedding")}, 6) AS cos_sim
       |      FROM asg a JOIN q ON a.cell = qcell AND a.vec_id != query_id),
       |r AS (SELECT query_id, cand_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p),
       |ivf1 AS (SELECT query_id, cand_id FROM r WHERE rnk <= 3),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qe2, cent_id AS qcell2
       |  FROM ranked WHERE vec_id < 16 AND rn <= 2),
       |p2 AS (SELECT query_id, a.vec_id AS cand_id,
       |        round(${cosSql("qe2", "a.embedding")}, 6) AS cos_sim
       |      FROM asg a JOIN probes ON a.cell = qcell2 AND a.vec_id != query_id),
       |r2 AS (SELECT query_id, cand_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM p2),
       |ivf2 AS (SELECT query_id, cand_id FROM r2 WHERE rnk <= 3),
       |bq AS (SELECT vec_id AS query_id, embedding AS qe3 FROM embeddings
       |       WHERE vec_id < 16),
       |bp AS (SELECT query_id, e.vec_id AS cand_id,
       |        round(${cosSql("qe3", "e.embedding")}, 6) AS cos_sim
       |      FROM embeddings e JOIN bq ON e.vec_id != query_id),
       |br AS (SELECT query_id, cand_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM bp),
       |truth AS (SELECT query_id, cand_id FROM br WHERE rnk <= 3),
       |m8 AS (
       |  SELECT vec_id,
       |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS max_abs,
       |    embedding
       |  FROM embeddings),
       |b8 AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5)) AS qv
       |  FROM m8 WHERE max_abs > 0),
       |probes8 AS (
       |  SELECT vec_id AS query_id, cent_id AS qcell
       |  FROM ranked WHERE vec_id < 16 AND rn <= 2),
       |q8 AS (SELECT p.query_id, p.qcell, b8.qv AS qa
       |       FROM probes8 p JOIN b8 ON b8.vec_id = p.query_id),
       |c8 AS (SELECT b8.vec_id, a.cell, b8.qv
       |       FROM b8 JOIN asg a ON a.vec_id = b8.vec_id),
       |pq8 AS (SELECT q8.query_id, c.vec_id AS cand_id,
       |        round((${qdotSql("qa", "qv")})
       |          / (sqrt(${qnorm2Sql("qa")}) * sqrt(${qnorm2Sql("qv")})), 6) AS qcos
       |      FROM c8 c JOIN q8 ON c.cell = q8.qcell AND c.vec_id != q8.query_id),
       |shortl8 AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY qcos DESC, cand_id ASC) AS srnk FROM pq8)
       |  WHERE srnk <= 12),
       |ref8 AS (
       |  SELECT s.query_id, s.cand_id,
       |         round(${cosSql("qq.embedding", "cc.embedding")}, 6) AS cos_sim
       |  FROM shortl8 s
       |  JOIN embeddings qq ON qq.vec_id = s.query_id
       |  JOIN embeddings cc ON cc.vec_id = s.cand_id),
       |ivf3 AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, cand_id ASC) AS rnk FROM ref8)
       |  WHERE rnk <= 3),
       |s1 AS (${gradeSql("ivf", "ivf1")}),
       |s2 AS (${gradeSql("ivf_p2", "ivf2")}),
       |s3 AS (${gradeSql("ivf_int8", "ivf3")})
       |SELECT method, n_truth, n_ann, n_hit,
       |  CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST((1000 * n_hit) // n_truth AS BIGINT) END AS recall_permille,
       |  CASE WHEN n_ann = 0 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST((1000 * n_hit) // n_ann AS BIGINT) END AS precision_permille
       |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3) f
       |ORDER BY method""".stripMargin
  }

  /** Quantized dot/norm chains over the DuckDB-side quantized list `qv`
    * (same left-associated order as the Spark reduce). */
  private def qdotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"$a[$i]*$b[$i]").mkString(" + ")

  private def qnorm2Sql(a: String): String =
    (1 to Dim).map(i => s"$a[$i]*$a[$i]").mkString(" + ")

  private val annQuantizedSql =
    s"""WITH m AS (
       |  SELECT vec_id,
       |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS max_abs,
       |    embedding
       |  FROM embeddings),
       |b AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5)) AS qv
       |  FROM m WHERE max_abs > 0),
       |q AS (SELECT vec_id AS query_id, qv AS qa FROM b WHERE vec_id < 8),
       |p AS (SELECT query_id, b.vec_id AS cand_id,
       |        round((${qdotSql("qa", "qv")})
       |          / (sqrt(${qnorm2Sql("qa")}) * sqrt(${qnorm2Sql("qv")})), 6) AS qcos
       |      FROM b JOIN q ON b.vec_id != query_id),
       |r AS (SELECT query_id, cand_id, qcos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cand_id) AS rnk
       |      FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, qcos FROM r
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** IVF-PQ oracle (residual PQ + nprobe=2 multiprobe + refine). Every
    * PQ quantity is exact BIGINT arithmetic (micro-unit RESIDUAL
    * subvectors — per-element floors of vector and centroid subtracted
    * as integers — integer L2², integer ADC sums), so the whole index —
    * codebook, codes, per-probe-cell distance tables, shortlist — is
    * reproduced bit-for-bit from the same CTE algebra; the refine stage
    * re-ranks the shortlist with the shared exact-cosine chain. The
    * query side quantizes against EACH probed cell's centroid (qsv/qdt
    * carry qcell), mirroring the engine's per-cell lookup tables. */
  private def pqd(a: String, b: String): String =
    (1 to Similarity.PqSubDim)
      .map(j => s"($a.qa$j - $b.qc$j)*($a.qa$j - $b.qc$j)").mkString(" + ")

  /** Residual micro-unit subvector columns for a (vector alias,
    * centroid alias) pair — shared by the corpus-side and the
    * per-probe-cell query-side residual CTEs. */
  private def qaColsFor(vec: String, cent: String): String =
    (1 to Similarity.PqSubDim).map(j =>
      s"CAST(floor(CAST($vec.embedding[r.sub*${Similarity.PqSubDim}+$j] AS DOUBLE)" +
        s"*1000000.0 + 0.5) AS BIGINT)" +
        s" - CAST(floor(CAST($cent.ce[r.sub*${Similarity.PqSubDim}+$j] AS DOUBLE)" +
        s"*1000000.0 + 0.5) AS BIGINT) AS qa$j").mkString(",\n       |         ")

  private val annIvfPqSql: String = {
    val qaCols = qaColsFor("a", "c")
    val qcSeed = (1 to Similarity.PqSubDim).map(j => s"qa$j AS qc$j").mkString(", ")
    val qcMean = (1 to Similarity.PqSubDim).map(j =>
      s"CAST(floor(CAST(CAST(sum(qa$j) AS BIGINT) AS DOUBLE)" +
        s" / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS qc$j").mkString(",\n       |    ")
    val qaPass = (1 to Similarity.PqSubDim).map(j => s"qa$j").mkString(", ")
    s"""WITH $ivfRankedCtes,
       |sv AS (
       |  SELECT a.vec_id, r.sub AS sub,
       |         $qaCols
       |  FROM asg a JOIN cent c ON a.cell = c.cent_id,
       |       range(0, ${Similarity.PqSub}) r(sub)),
       |pseeds AS (
       |  SELECT sub, vec_id AS code, $qcSeed FROM sv
       |  WHERE vec_id < ${Similarity.PqCodes}),
       |passign AS (
       |  SELECT sub, code, $qaPass FROM (
       |    SELECT t.*, s.code, row_number() OVER (
       |        PARTITION BY t.vec_id, t.sub
       |        ORDER BY ${pqd("t", "s")} ASC, s.code ASC) AS rn
       |    FROM ptrainsv t JOIN pseeds s USING (sub))
       |  WHERE rn = 1),
       |pcb AS (
       |  SELECT sub, code,
       |    $qcMean
       |  FROM passign GROUP BY sub, code),
       |pcodes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT v.vec_id, v.sub, c.code, row_number() OVER (
       |        PARTITION BY v.vec_id, v.sub
       |        ORDER BY ${pqd("v", "c")} ASC, c.code ASC) AS rn
       |    FROM sv v JOIN pcb c USING (sub))
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS qcell
       |  FROM ranked WHERE vec_id < 16 AND rn <= 2),
       |qsv AS (
       |  SELECT p.query_id, p.qcell, r.sub AS sub,
       |         ${qaColsFor("e", "c")}
       |  FROM probes p
       |  JOIN embeddings e ON e.vec_id = p.query_id
       |  JOIN cent c ON c.cent_id = p.qcell,
       |       range(0, ${Similarity.PqSub}) r(sub)),
       |qdt AS (
       |  SELECT v.query_id, v.qcell, v.sub, c.code, ${pqd("v", "c")} AS dpart
       |  FROM qsv v JOIN pcb c USING (sub)),
       |pcand AS (
       |  SELECT p.query_id, a.vec_id AS cand_id, p.qcell
       |  FROM asg a JOIN probes p
       |    ON a.cell = p.qcell AND a.vec_id != p.query_id),
       |adc AS (
       |  SELECT c.query_id, c.cand_id, CAST(sum(qdt.dpart) AS BIGINT) AS adc_dist
       |  FROM pcand c
       |  JOIN pcodes pc ON pc.vec_id = c.cand_id
       |  JOIN qdt ON qdt.query_id = c.query_id AND qdt.qcell = c.qcell
       |          AND qdt.sub = pc.sub AND qdt.code = pc.code
       |  GROUP BY 1, 2),
       |shortl AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc_dist ASC, cand_id ASC) AS srnk FROM adc)
       |  WHERE srnk <= ${Similarity.RefineFactor * 3}),
       |ref AS (
       |  SELECT s.query_id, s.cand_id,
       |         round(${cosSql("qq.embedding", "cc.embedding")}, 6) AS cos_sim
       |  FROM shortl s
       |  JOIN embeddings qq ON qq.vec_id = s.query_id
       |  JOIN embeddings cc ON cc.vec_id = s.cand_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, cand_id ASC) AS rnk FROM ref)
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
      .replace("ptrainsv",
        s"(SELECT * FROM sv WHERE vec_id < ${Similarity.PqCodes.toLong * Similarity.PqCodes})")
  }

  /** Int8-in-IVF oracle (`IVF,SQ8` + refine, nprobe=2): the quantized
    * corpus (the [[annQuantizedSql]] b CTE) restricted to each query's
    * two best cells, ranked by int8 cosine (exact small-integer dots in
    * double — the proven quantized chain), shortlist refine·k = 12
    * re-ranked with the shared exact float-cosine chain. */
  private val annIvfInt8Sql =
    s"""WITH $ivfRankedCtes,
       |m AS (
       |  SELECT vec_id,
       |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS max_abs,
       |    embedding
       |  FROM embeddings),
       |b AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5)) AS qv
       |  FROM m WHERE max_abs > 0),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS qcell
       |  FROM ranked WHERE vec_id < 16 AND rn <= 2),
       |q AS (SELECT p.query_id, p.qcell, b.qv AS qa
       |      FROM probes p JOIN b ON b.vec_id = p.query_id),
       |c8 AS (SELECT b.vec_id, a.cell, b.qv
       |       FROM b JOIN asg a ON a.vec_id = b.vec_id),
       |p AS (SELECT q.query_id, c.vec_id AS cand_id,
       |        round((${qdotSql("qa", "qv")})
       |          / (sqrt(${qnorm2Sql("qa")}) * sqrt(${qnorm2Sql("qv")})), 6) AS qcos
       |      FROM c8 c JOIN q ON c.cell = q.qcell AND c.vec_id != q.query_id),
       |shortl AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY qcos DESC, cand_id ASC) AS srnk FROM p)
       |  WHERE srnk <= 12),
       |ref AS (
       |  SELECT s.query_id, s.cand_id,
       |         round(${cosSql("qq.embedding", "cc.embedding")}, 6) AS cos_sim
       |  FROM shortl s
       |  JOIN embeddings qq ON qq.vec_id = s.query_id
       |  JOIN embeddings cc ON cc.vec_id = s.cand_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, cand_id ASC) AS rnk FROM ref)
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** SemDeDup oracle: same IVF assignment CTEs; representative = max
    * (ccos, -vec_id) per cell via a window, members scored against the
    * rep embedding with the shared cosine chain. */
  private val semanticDedupSql =
    s"""WITH $ivfRankedCtes,
       |reps AS (
       |  SELECT cell, vec_id AS rep_id, embedding AS re FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cell
       |             ORDER BY ccos DESC, vec_id ASC) AS rr FROM asg)
       |  WHERE rr = 1),
       |sc2 AS (
       |  SELECT a.vec_id, a.cell, r.rep_id,
       |         round(${cosSql("a.embedding", "r.re")}, 6) AS rep_cos
       |  FROM asg a JOIN reps r ON a.cell = r.cell)
       |SELECT vec_id, cell, rep_id, rep_cos,
       |       (vec_id != rep_id AND rep_cos >= 0.35) AS is_dup
       |FROM sc2 ORDER BY vec_id""".stripMargin

  private val embStatsSql =
    s"""SELECT label, count(*) AS n_vectors,
       |  CAST(sum(CAST(round(sqrt(${norm2Sql("embedding")}), 6) AS DECIMAL(18,6))) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS avg_norm
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  /** Split-drift oracle: md5-nibble split (the train_val_test formula
    * on vec_id), per-split integer micro-unit centroids (the
    * [[centMeanSql]] arithmetic), pairwise cosine via the shared exact
    * chain. */
  private val embSplitDriftSql = {
    val ceCols = (1 to Dim).map(centMeanSql)
      .zipWithIndex.map { case (e, i) => s"$e AS c${i + 1}" }
      .mkString(",\n       |    ")
    def ceList(a: String) =
      s"list_value(${(1 to Dim).map(i => s"$a.c$i").mkString(", ")})"
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    (ascii(substr(md5(CAST(vec_id AS VARCHAR)), 1, 1))
       |      - CASE WHEN ascii(substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) >= 97
       |             THEN 87 ELSE 48 END) * 16 +
       |    (ascii(substr(md5(CAST(vec_id AS VARCHAR)), 2, 1))
       |      - CASE WHEN ascii(substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) >= 97
       |             THEN 87 ELSE 48 END) AS bucket
       |  FROM embeddings),
       |sp AS (
       |  SELECT CASE WHEN bucket < 204 THEN 'train'
       |              WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
       |         embedding
       |  FROM b),
       |cents AS (
       |  SELECT split, CAST(count(*) AS BIGINT) AS cnt,
       |    $ceCols
       |  FROM sp GROUP BY split),
       |cl AS (SELECT split, cnt, ${ceList("cents")} AS ce FROM cents)
       |SELECT a.split AS split_a, b.split AS split_b,
       |  a.cnt AS n_a, b.cnt AS n_b,
       |  round(${cosSql("a.ce", "b.ce")}, 6) AS centroid_cos
       |FROM cl a JOIN cl b ON a.split < b.split
       |ORDER BY split_a, split_b""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ann_topk",
      (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), 8, 5,
        corpusCount = Some(Tables.rowCount(s, d, "embeddings"))),
      Some(annTopkSql)),
    QueryDef("ann_lsh_topk",
      (s, d) => Similarity.lshTopK(Tables.embeddings(s, d), 16, 3,
        Some(Tables.rowCount(s, d, "embeddings"))),
      Some(annLshSql)),
    QueryDef("ann_lsh_multiprobe",
      (s, d) => Similarity.lshTopK(Tables.embeddings(s, d), 16, 3,
        Some(Tables.rowCount(s, d, "embeddings")), radius = 1),
      Some(annLshMultiprobeSql)),
    // index introspection: cell-occupancy stats of the SAME served
    // assignment the ivf probes run against (oracle retrains via the
    // shared CTEs — hash equality pins the whole build, not just probes)
    QueryDef("ann_index_stats",
      (s, d) => Similarity.ivfIndexStats(Tables.embeddings(s, d), 8,
        Some(Tables.rowCount(s, d, "embeddings"))),
      Some(s"""WITH $ivfRankedCtes,
           |cc AS (SELECT cell, count(*) AS cn FROM asg GROUP BY cell),
           |a AS (SELECT CAST(sum(cn) AS BIGINT) AS n_vectors,
           |        CAST(count(*) AS BIGINT) AS n_cells_used,
           |        CAST(min(cn) AS BIGINT) AS cell_min,
           |        CAST(max(cn) AS BIGINT) AS cell_max
           |      FROM cc)
           |SELECT n_vectors, CAST(k AS BIGINT) AS n_cells, n_cells_used,
           |  cell_min, cell_max,
           |  (1000 * n_vectors) // n_cells_used AS mean_permille,
           |  (1000 * cell_max * n_cells_used) // n_vectors AS skew_permille
           |FROM a, kk""".stripMargin)),

    QueryDef("ann_ivf_topk",
      (s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), 8, 16, 3,
        Some(Tables.rowCount(s, d, "embeddings"))),
      Some(annIvfSql)),
    QueryDef("ann_ivf_multiprobe",
      (s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), 8, 16, 3,
        Some(Tables.rowCount(s, d, "embeddings")), nprobe = 2),
      Some(annIvfMultiprobeSql)),
    // the approximate probes graded against brute-force ground truth at
    // the same (nQueries, k): recall@3 per method, the nprobe lever's
    // direction pinned by the hash gate (p2 ≥ p1 by superset argument)
    QueryDef("ann_recall_audit",
      (s, d) => Similarity.annRecallAudit(Tables.embeddings(s, d), 8, 16, 3,
        Some(Tables.rowCount(s, d, "embeddings"))),
      Some(annRecallAuditSql)),
    QueryDef("ann_ivf_incremental",
      (s, d) => Similarity.ivfTopKIncremental(Tables.embeddings(s, d), 8, 16, 3,
        Tables.rowCount(s, d, "embeddings") * 9 / 10),
      Some(annIvfIncrementalSql)),
    QueryDef("ann_ivf_tombstoned",
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopKIncremental(emb, 8, 16, 3,
          Tables.rowCount(s, d, "embeddings") * 9 / 10,
          tombstones = Some(
            emb.filter(pmod(col("vec_id"), lit(11)) === 5).select(col("vec_id"))))
      },
      Some(annIvfTombstonedSql)),
    QueryDef("ann_quantized_topk",
      (s, d) => Similarity.quantizedTopK(Tables.embeddings(s, d), 8, 5),
      Some(annQuantizedSql)),
    QueryDef("near_dup_embedding",
      (s, d) => SharedIntermediates.embPairs(s, d),
      Some(nearDupEmbSql)),
    QueryDef("ann_ivfpq_topk",
      (s, d) => Similarity.ivfPqTopK(Tables.embeddings(s, d), 8, 16, 3,
        corpusCount = Some(Tables.rowCount(s, d, "embeddings")), nprobe = 2),
      Some(annIvfPqSql)),
    QueryDef("ann_ivf_int8",
      (s, d) => Similarity.ivfInt8TopK(Tables.embeddings(s, d), 8, 16, 3,
        nprobe = 2, refine = 4,
        corpusCount = Some(Tables.rowCount(s, d, "embeddings"))),
      Some(annIvfInt8Sql)),
    QueryDef("semantic_dedup",
      (s, d) => Similarity.semanticDedup(Tables.embeddings(s, d), 8, 0.35,
        corpusCount = Some(Tables.rowCount(s, d, "embeddings"))),
      Some(semanticDedupSql)),
    QueryDef("embedding_stats",
      (s, d) => Similarity.embeddingStats(Tables.embeddings(s, d)),
      Some(embStatsSql)),
    QueryDef("embedding_split_drift",
      (s, d) => Similarity.embeddingSplitDrift(Tables.embeddings(s, d)),
      Some(embSplitDriftSql)),

    // top principal direction via deterministic integer power
    // iteration (milli-quantized vectors, BIGINT dots, DECIMAL sums,
    // max-abs rescale) — both engines walk the identical orbit
    QueryDef("embedding_pca_power",
      (s, d) => Similarity.embeddingPcaPower(Tables.embeddings(s, d),
        Similarity.PcaIters),
      Some(pcaPowerSql)),

    // int8-quantizer residual audit in exact 1e-4 step units — the
    // measured-error companion of the quantized serving index
    QueryDef("ann_quantization_error",
      (s, d) => Similarity.quantizationError(Tables.embeddings(s, d)),
      Some(
        s"""WITH b AS (
          |  SELECT label, embedding,
          |    list_max(list_transform(embedding,
          |      e -> abs(CAST(e AS DOUBLE)))) AS max_abs
          |  FROM embeddings),
          |r AS (
          |  SELECT label,
          |    unnest(list_transform(embedding, e ->
          |      CAST(floor((CAST(e AS DOUBLE) * (127.0 / max_abs)
          |        - floor(CAST(e AS DOUBLE) * (127.0 / max_abs) + 0.5))
          |        * 10000.0 + 0.5) AS BIGINT))) AS rq
          |  FROM b WHERE max_abs > 0 AND NOT isnan(max_abs))
          |SELECT label,
          |  CAST(count(*) // ${Similarity.Dim} AS BIGINT) AS n_vectors,
          |  CAST(sum(abs(rq)) // count(*) AS BIGINT) AS mean_abs_q4,
          |  CAST(max(abs(rq)) AS BIGINT) AS max_abs_q4
          |FROM r GROUP BY label ORDER BY label""".stripMargin)),

    // Johnson–Lindenstrauss ±1 projection (64 → 16 dims) with the
    // distance-distortion audit over stride-sampled pairs — md5-parity
    // signs, milli-quantized inputs, all-INT64 ratios on both engines
    QueryDef("random_projection_audit",
      (s, d) => Similarity.randomProjectionAudit(Tables.embeddings(s, d)),
      Some(rpAuditSql)),
  )

  /** JL-audit oracle: the same md5-nibble-parity sign matrix, integer
    * projection, and stride pairs; DuckDB list subscripts are 1-based
    * INTs (the pcaPowerSql convention). outDims/strides interpolate
    * the operator's defaults. */
  private def rpAuditSql: String = {
    val hi = Similarity.Dim + 1
    s"""WITH xq AS (
       |  SELECT vec_id, list_transform(embedding,
       |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS xq
       |  FROM embeddings),
       |sg AS (
       |  SELECT r // 64 AS i, r % 64 AS j,
       |    CAST(2 * ((a - CASE WHEN a >= 97 THEN 87 ELSE 48 END) & 1) - 1
       |         AS BIGINT) AS s
       |  FROM (
       |    SELECT r, ascii(substr(md5('rp:' || CAST(r // 64 AS VARCHAR) ||
       |             ':' || CAST(r % 64 AS VARCHAR)), 1, 1)) AS a
       |    FROM (SELECT unnest(range(0, ${16 * Similarity.Dim})) AS r) rr) nb),
       |proj AS (
       |  SELECT x.vec_id, sg.i,
       |    CAST(sum(sg.s * x.xq[CAST(sg.j + 1 AS INT)]) AS BIGINT) AS y
       |  FROM xq x CROSS JOIN sg GROUP BY 1, 2),
       |ya AS (SELECT vec_id, array_agg(y ORDER BY i) AS yq
       |       FROM proj GROUP BY vec_id),
       |t AS (SELECT x.vec_id, x.xq, y.yq FROM xq x JOIN ya y USING (vec_id)),
       |pr AS (
       |  SELECT CAST(st.stride AS BIGINT) AS stride,
       |    CAST(list_sum(list_transform(range(1, $hi), k ->
       |      (a.xq[CAST(k AS INT)] - b.xq[CAST(k AS INT)]) *
       |      (a.xq[CAST(k AS INT)] - b.xq[CAST(k AS INT)]))) AS BIGINT)
       |      AS d2_orig,
       |    CAST(list_sum(list_transform(range(1, 17), k ->
       |      (a.yq[CAST(k AS INT)] - b.yq[CAST(k AS INT)]) *
       |      (a.yq[CAST(k AS INT)] - b.yq[CAST(k AS INT)]))) AS BIGINT)
       |      AS d2_proj
       |  FROM (VALUES (1), (17), (289)) st(stride)
       |  CROSS JOIN t a
       |  JOIN t b ON b.vec_id = a.vec_id + st.stride),
       |rt AS (SELECT stride, (1000000 * d2_proj) // (16 * d2_orig) AS ratio_ppm
       |       FROM pr WHERE d2_orig > 0)
       |SELECT stride, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS mean_ratio_ppm,
       |  CAST(min(ratio_ppm) AS BIGINT) AS min_ratio_ppm,
       |  CAST(max(ratio_ppm) AS BIGINT) AS max_ratio_ppm,
       |  CAST((1000 * sum(CASE WHEN ratio_ppm BETWEEN 800000 AND 1200000
       |       THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS within20_permille
       |FROM rt GROUP BY stride ORDER BY stride""".stripMargin
  }

  /** Unrolled power-iteration oracle: round K's w is referenced by
    * both its max and its rescale → AS MATERIALIZED (the established
    * unrolled-CTE rule); each round re-reads the milli-quantized
    * vector CTE. v₀ mirrors [[Similarity.pcaStartVector]]; depth and
    * width interpolate the SHARED [[Similarity.PcaIters]]/Dim
    * constants (review finding: literals here could desynchronize
    * from the operator). The final `v IS NOT NULL` guard makes the
    * empty-corpus result 0 rows on both engines (DuckDB's list() over
    * zero rows is NULL, where Spark's collect_list is an empty array). */
  private def pcaPowerSql: String = {
    val v0 = Similarity.pcaStartVector.mkString("[", ", ", "]")
    val hi = Similarity.Dim + 1
    val last = Similarity.PcaIters
    val rounds = (1 to last).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT j, sum(CAST(xq[CAST(j AS INT)] * dot AS HUGEINT)) AS w
         |  FROM (SELECT xq, list_sum(list_transform(range(1, $hi),
         |          i -> xq[CAST(i AS INT)] * v[CAST(i AS INT)])) AS dot
         |        FROM x, v${k - 1}) t,
         |       (SELECT unnest(range(1, $hi)) AS j) jj
         |  GROUP BY j),
         |m$k AS (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS MATERIALIZED (
         |  SELECT list(CAST(CASE WHEN m = 0 THEN 0 ELSE
         |      CASE WHEN w < 0 THEN -1 ELSE 1 END * ((1000000 * abs(w)) // m)
         |    END AS BIGINT) ORDER BY j) AS v
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (
       |  SELECT list_transform(embedding,
       |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS xq
       |  FROM embeddings),
       |v0 AS (SELECT $v0 AS v),
       |$rounds
       |SELECT CAST(j - 1 AS BIGINT) AS dim,
       |  v[CAST(j AS INT)] AS loading_micro
       |FROM v$last, (SELECT unnest(range(1, $hi)) AS j) jj
       |WHERE v IS NOT NULL
       |ORDER BY dim""".stripMargin
  }
}
