package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact.nibSql

/** Driver-contract wiring for the dedup family. The oracle SQL for the
  * hash-based operators is generated programmatically so the DuckDB side
  * uses the exact same md5-derived signatures as the Spark side. */
object DedupQueries {

  /** CTE producing (doc_id, sh) word-3-gram distinct shingles.
    * `docsWhere` restricts the base corpus (the [[DocSlice]]
    * measurement mode — empty for every normal entry). */
  private[operators] def wordShinglesCteFor(docsWhere: String): String =
    s"""t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
       |  FROM documents$docsWhere),
       |s AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
       |  FROM t WHERE len(w) >= 3)""".stripMargin

  private[operators] val wordShinglesCte = wordShinglesCteFor("")

  /** CTE producing (doc_id, sh) char-5-gram distinct shingles. */
  private val charShinglesCte =
    """s AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, length(lower(text)) - 10),
      |         i -> substr(lower(text), i, 12))) AS sh
      |  FROM documents WHERE length(text) >= 12)""".stripMargin

  /** MinHash+LSH+verify pipeline over a shingle CTE named `s`. The
    * frequent-band cap (bucket > MaxBandBucket dropped) is applied here
    * too — the cap is part of the operator's semantics. */
  private def nearDupSql(shingleCte: String, threshold: Double): String = {
    val mins = (0 until 8).map(j => s"min(substr(hh, ${1 + 8 * j}, 8)) AS m$j").mkString(",\n        ")
    val bandList = (0 until 4).map(b => s"'$b:' || m${2 * b} || m${2 * b + 1}").mkString(", ")
    s"""WITH $shingleCte,
       |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |h AS (SELECT doc_id, md5(g) || md5('x' || g) AS hh FROM e),
       |m AS (SELECT doc_id,
       |        $mins
       |      FROM h GROUP BY doc_id),
       |b AS (SELECT doc_id, unnest([$bandList]) AS band FROM m),
       |bf AS (
       |  SELECT doc_id, band FROM (
       |    SELECT doc_id, band, count(*) OVER (PARTITION BY band) AS bn FROM b)
       |  WHERE bn <= ${Dedup.MaxBandBucket}),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bf x JOIN bf y ON x.band = y.band AND x.doc_id < y.doc_id),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jac
       |  FROM cand
       |  JOIN s sa ON sa.doc_id = doc_a
       |  JOIN s sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j
       |WHERE jac >= $threshold ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Tombstoned-incremental variant of [[nearDupSql]]: the cap is
    * evaluated over the FULL pre-delete band table (bf — the frozen
    * epoch of the maintained index), THEN tombstoned docs (doc_id ≡ 3
    * mod 7 below the 90% split) are deleted (bl), then the increment
    * (doc_id ≥ split) probes the live view. Mirrors the serve path
    * applyDocTombstones ∘ nearDupPairsIncrementalFromBands row for row;
    * the verify stage is unchanged because candidates can only contain
    * live docs. */
  private def nearDupTombstonedSql(shingleCte: String, threshold: Double): String = {
    val mins = (0 until 8).map(j => s"min(substr(hh, ${1 + 8 * j}, 8)) AS m$j").mkString(",\n        ")
    val bandList = (0 until 4).map(b => s"'$b:' || m${2 * b} || m${2 * b + 1}").mkString(", ")
    s"""WITH $shingleCte,
       |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |h AS (SELECT doc_id, md5(g) || md5('x' || g) AS hh FROM e),
       |m AS (SELECT doc_id,
       |        $mins
       |      FROM h GROUP BY doc_id),
       |b AS (SELECT doc_id, unnest([$bandList]) AS band FROM m),
       |bf AS (
       |  SELECT doc_id, band FROM (
       |    SELECT doc_id, band, count(*) OVER (PARTITION BY band) AS bn FROM b)
       |  WHERE bn <= ${Dedup.MaxBandBucket}),
       |sp AS (SELECT CAST(floor(CAST(count(*) AS DOUBLE) * 0.9) AS BIGINT) AS split
       |       FROM documents),
       |bl AS (SELECT bf.doc_id, bf.band FROM bf, sp
       |       WHERE NOT (bf.doc_id < sp.split AND bf.doc_id % 7 = 3)),
       |cand AS (
       |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |                  greatest(x.doc_id, y.doc_id) AS doc_b
       |  FROM bl x JOIN bl y ON x.band = y.band AND x.doc_id <> y.doc_id, sp
       |  WHERE x.doc_id >= sp.split),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jac
       |  FROM cand
       |  JOIN s sa ON sa.doc_id = doc_a
       |  JOIN s sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j
       |WHERE jac >= $threshold ORDER BY doc_a, doc_b""".stripMargin
  }

  /** LSM-generation variant of [[nearDupSql]]: three generations
    * (base < 80%, delta1 in [80%, 90%), delta2 ≥ 90%) with tombstone
    * batches riding the deltas (gen1 deletes base docs ≡ 3 mod 7; gen2
    * deletes docs < 90% ≡ 5 mod 11 — older-generations-only by id
    * construction), served with the COMPACTED-EPOCH cap: tombstones
    * first, cap re-derived over surviving rows (bl → bf), so the hash
    * gate pins serve ≡ full-rebuild-on-live-corpus exactly. The newest
    * delta probes the served view. */
  private def nearDupLsmSql(shingleCte: String, threshold: Double): String = {
    val mins = (0 until 8).map(j => s"min(substr(hh, ${1 + 8 * j}, 8)) AS m$j").mkString(",\n        ")
    val bandList = (0 until 4).map(b => s"'$b:' || m${2 * b} || m${2 * b + 1}").mkString(", ")
    s"""WITH $shingleCte,
       |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |h AS (SELECT doc_id, md5(g) || md5('x' || g) AS hh FROM e),
       |m AS (SELECT doc_id,
       |        $mins
       |      FROM h GROUP BY doc_id),
       |b AS (SELECT doc_id, unnest([$bandList]) AS band FROM m),
       |sp AS (SELECT CAST(floor(CAST(count(*) AS DOUBLE) * 0.8) AS BIGINT) AS s1,
       |              CAST(floor(CAST(count(*) AS DOUBLE) * 0.9) AS BIGINT) AS s2
       |       FROM documents),
       |bl AS (SELECT b.doc_id, b.band FROM b, sp
       |       WHERE NOT (b.doc_id < sp.s1 AND b.doc_id % 7 = 3)
       |         AND NOT (b.doc_id < sp.s2 AND b.doc_id % 11 = 5)),
       |bf AS (
       |  SELECT doc_id, band FROM (
       |    SELECT doc_id, band, count(*) OVER (PARTITION BY band) AS bn FROM bl)
       |  WHERE bn <= ${Dedup.MaxBandBucket}),
       |cand AS (
       |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |                  greatest(x.doc_id, y.doc_id) AS doc_b
       |  FROM bf x JOIN bf y ON x.band = y.band AND x.doc_id <> y.doc_id, sp
       |  WHERE x.doc_id >= sp.s2),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jac
       |  FROM cand
       |  JOIN s sa ON sa.doc_id = doc_a
       |  JOIN s sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j
       |WHERE jac >= $threshold ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SimHash oracle: 16 sign-sums over md5 nibbles of each token. */
  private val simhashSql: String = {
    val nibs = (0 until 4).map(d => s"ascii(substr(md5(word), ${d + 1}, 1)) AS a$d").mkString(",\n        ")
    val vals = (0 until 4).map(d => s"a$d - CASE WHEN a$d >= 97 THEN 87 ELSE 48 END AS n$d").mkString(",\n        ")
    val sums = (0 until 16).map(b => s"sum(2 * ((n${b / 4} >> ${b % 4}) & 1) - 1) AS s$b").mkString(",\n        ")
    val sig = (0 until 16).map(b => s"(CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
       |  FROM documents),
       |nib AS (SELECT doc_id,
       |        $nibs
       |      FROM tok),
       |v AS (SELECT doc_id,
       |        $vals
       |      FROM nib),
       |sums AS (SELECT doc_id,
       |        $sums
       |      FROM v GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM sums)
       |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_same
       |FROM sig ORDER BY doc_id""".stripMargin
  }

  /** Connected components over the word-gram near-dup pairs via a
    * recursive transitive closure: every clustered doc labeled with the
    * min doc_id it can reach (= Spark's min-label fixpoint). */
  private[operators] val clustersCtes =
    s"""prs AS (
       |  SELECT doc_a, doc_b FROM (${nearDupSql(wordShinglesCte, 0.7)}) nd),
       |ed AS (SELECT doc_a AS u, doc_b AS v FROM prs
       |       UNION SELECT doc_b, doc_a FROM prs),
       |rch AS (
       |  SELECT u, v FROM ed
       |  UNION
       |  SELECT r.u, ed.v FROM rch r JOIN ed ON r.v = ed.u),
       |lab AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM rch GROUP BY u),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)""".stripMargin

  private val clustersSql =
    s"""WITH RECURSIVE $clustersCtes
       |SELECT doc_id, cluster_id, cluster_size FROM lab JOIN sz USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Keeper per cluster under the keep-longest policy (ties to the
    * smaller doc_id); mirrors Dedup.canonicalDocs over the same
    * recursive-closure clusters. */
  private val canonicalSql =
    s"""WITH RECURSIVE $clustersCtes,
       |cl AS (
       |  SELECT doc_id, cluster_id, cluster_size FROM lab JOIN sz USING (cluster_id)),
       |j AS (
       |  SELECT cl.doc_id, cl.cluster_id, cl.cluster_size, d.n_chars
       |  FROM cl JOIN documents d USING (doc_id)),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY n_chars DESC, doc_id ASC) AS rn FROM j)
       |SELECT cluster_id, cluster_size, doc_id AS keeper_doc,
       |       n_chars AS keeper_chars, cluster_size - 1 AS n_dropped
       |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Graph stats over the word-gram near-dup pairs. The oracle's
    * triangle join is id-oriented — simpler than the Spark side's
    * (degree, id) orientation and provably the same count (each
    * triangle is counted at its unique minimum vertex under either
    * total order). Wedges use floor division on the BIGINT sum on both
    * sides (each d·(d−1) term is even, so the quotient is exact at any
    * scale — no double-division rounding hazard). */
  private val graphStatsSql =
    s"""WITH prs AS (
       |  SELECT doc_a, doc_b FROM (${nearDupSql(wordShinglesCte, 0.7)}) nd),
       |e AS (
       |  SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
       |  FROM prs WHERE doc_a <> doc_b),
       |tri AS (
       |  SELECT count(*) AS n_triangles
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |deg AS (
       |  SELECT v, count(*) AS d FROM (
       |    SELECT a AS v FROM e UNION ALL SELECT b FROM e)
       |  GROUP BY v),
       |ag AS (
       |  SELECT count(*) AS n_nodes,
       |    (CAST(sum(d * (d - 1)) AS BIGINT) // 2) AS n_wedges
       |  FROM deg),
       |ec AS (SELECT count(*) AS n_edges FROM e)
       |SELECT n_nodes, n_edges, n_triangles,
       |  CASE WHEN n_wedges > 0
       |       THEN round(CAST(n_triangles AS DOUBLE) * 3.0 / CAST(n_wedges AS DOUBLE), 6)
       |       ELSE 0.0 END AS clustering_coef
       |FROM ag, ec, tri""".stripMargin

  /** Ensemble dedup oracle: text pairs ∪ embedding pairs → the same
    * recursive transitive closure as the clusters oracle. Under
    * [[DocSlice]] (sf1 measurement mode) the TEXT side rebuilds from
    * the sliced corpus — cap included — exactly as the Spark side
    * does; the embedding side stays whole (8k sf1 vectors are
    * oracle-feasible; only the text-pair closure was not). */
  private val ensembleClustersSql =
    s"""WITH RECURSIVE ${SimilarityQueries.embPairCtes(0.35,
          DocSlice.vecsWhere)},
       |tp AS (
       |  SELECT doc_a, doc_b FROM (${nearDupSql(
            wordShinglesCteFor(DocSlice.docsWhere), 0.7)}) nd),
       |prs AS (
       |  SELECT doc_a, doc_b FROM tp
       |  UNION SELECT vec_a, vec_b FROM ep),
       |ed AS (SELECT doc_a AS u, doc_b AS v FROM prs
       |       UNION SELECT doc_b, doc_a FROM prs),
       |rch AS (
       |  SELECT u, v FROM ed
       |  UNION
       |  SELECT r.u, ed.v FROM rch r JOIN ed ON r.v = ed.u),
       |lab AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM rch GROUP BY u),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
       |SELECT doc_id, cluster_id, cluster_size FROM lab JOIN sz USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** PageRank oracle: the SAME 10 integer-arithmetic iterations,
    * unrolled as a CTE chain (recursive CTEs forbid aggregation in the
    * recursive term, and unrolling keeps every step plain ANSI). All
    * divisions are BIGINT floor divisions, so ranks match the Spark
    * side digit-for-digit. */
  private val pagerankSql: String = {
    val iters = 10
    val chain = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT e.v AS doc_id,
         |    CAST((15000000000000 // (100 * nn.n)) + ((85 * sum(p.r // dg.d)) // 100) AS BIGINT) AS r
         |  FROM ed e
         |  JOIN pr${k - 1} p ON p.doc_id = e.u
         |  JOIN deg dg ON dg.u = e.u
         |  CROSS JOIN nn
         |  GROUP BY e.v, nn.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH prs AS (${nearDupSql(wordShinglesCte, 0.7)}),
       |und AS (
       |  SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
       |  FROM prs WHERE doc_a <> doc_b),
       |ed AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
       |deg AS (SELECT u, count(*) AS d FROM ed GROUP BY u),
       |nn AS (SELECT count(*) AS n FROM deg),
       |pr0 AS (SELECT u AS doc_id, CAST(1000000000000 // nn.n AS BIGINT) AS r
       |        FROM deg CROSS JOIN nn),
       |$chain
       |SELECT p.doc_id, p.r AS rank_micro, dg.d AS degree
       |FROM pr$iters p JOIN deg dg ON dg.u = p.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("pagerank_neardup",
      (s, d) => Dedup.pagerankNearDup(SharedIntermediates.textPairs(s, d)),
      Some(pagerankSql)),

    QueryDef("dedup_ensemble_clusters",
      (s, d) =>
        if (DocSlice.limit.isEmpty && DocSlice.vecLimit.isEmpty)
          Dedup.ensembleDedupClustersFrom(
            SharedIntermediates.textPairs(s, d),
            SharedIntermediates.embPairs(s, d))
        else {
          // sf1 measurement mode: rebuild each SLICED pair pipeline
          // from its sliced corpus (band cap and LSH plane count
          // re-derived over the slice, matching the oracle) — a
          // sliced side must not serve from the full-corpus durable
          // index; an UNsliced side keeps serving the shared memoized
          // pipeline (review finding: rebuilding it uncached
          // duplicated the most expensive dedup stage)
          val tp =
            if (DocSlice.limit.isEmpty) SharedIntermediates.textPairs(s, d)
            else {
              val docs = DocSlice.docs(Tables.documents(s, d))
              Dedup.nearDupPairsFromBands(docs,
                Dedup.cappedBands(Dedup.wordGrams(docs), Dedup.MaxBandBucket),
                Dedup.wordGrams, 0.7)
            }
          val ep =
            if (DocSlice.vecLimit.isEmpty) SharedIntermediates.embPairs(s, d)
            else Similarity.embeddingNearDup(
              DocSlice.vecs(Tables.embeddings(s, d)), 0.35)
          Dedup.ensembleDedupClustersFrom(tp, ep)
        },
      Some(ensembleClustersSql)),

    QueryDef("near_dup_graph_stats",
      (s, d) => Dedup.nearDupGraphStats(SharedIntermediates.textPairs(s, d)),
      Some(graphStatsSql)),

    QueryDef("dedup_exact",
      (s, d) => Dedup.exactDedup(Tables.documents(s, d)), Some(
        """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper
          |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin)),

    QueryDef("near_dup_minhash",
      (s, d) => SharedIntermediates.textPairs(s, d),
      Some(nearDupSql(wordShinglesCte, 0.7))),

    QueryDef("near_dup_incremental",
      (s, d) => {
        // last ~10% of ids = the increment; both engines derive the
        // split from the corpus count with the same double floor. The
        // increment probes the SHARED band index — the production shape.
        val split = math.floor(
          Tables.rowCount(s, d, "documents").toDouble * 0.9).toLong
        Dedup.nearDupPairsIncrementalFromBands(Tables.documents(s, d),
          SharedIntermediates.textBands(s, d), Dedup.wordGrams, split, 0.7)
      },
      // the incremental result IS the full pair set restricted to pairs
      // touching the increment (doc_b = max id of an ordered pair)
      Some(s"""WITH full_pairs AS (${nearDupSql(wordShinglesCte, 0.7)}),
           |sp AS (SELECT CAST(floor(CAST(count(*) AS DOUBLE) * 0.9) AS BIGINT) AS split
           |       FROM documents)
           |SELECT doc_a, doc_b, jaccard FROM full_pairs, sp
           |WHERE doc_b >= split ORDER BY doc_a, doc_b""".stripMargin)),

    // serve-time DELETES on the maintained band index: tombstoned base
    // docs (doc_id ≡ 3 mod 7 below the 90% split) anti-joined out of the
    // durable capped index, then the increment probes the live view —
    // tombstone-sized work, never a rebuild. The oracle rebuilds the
    // band pipeline with the SAME frozen-epoch cap (cap evaluated over
    // the full pre-delete band table, deletes applied after) so hash
    // equality pins the serve semantics exactly; the frozen-cap ⊆
    // rebuild containment and the compaction epoch that re-evaluates
    // the cap are spec-pinned in IncrementalIndexSpec.
    QueryDef("near_dup_tombstoned",
      (s, d) => {
        val split = math.floor(
          Tables.rowCount(s, d, "documents").toDouble * 0.9).toLong
        val docs = Tables.documents(s, d)
        val tomb = docs.filter(
            org.apache.spark.sql.functions.col("doc_id") < split &&
            org.apache.spark.sql.functions.col("doc_id") % 7 === 3)
          .select("doc_id")
        val live = docs.join(tomb, Seq("doc_id"), "left_anti")
        Dedup.nearDupPairsIncrementalFromBands(live,
          Dedup.applyDocTombstones(SharedIntermediates.textBands(s, d), tomb),
          Dedup.wordGrams, split, 0.7)
      },
      Some(nearDupTombstonedSql(wordShinglesCte, 0.7))),

    // FULL LSM lifecycle on the band index (r11 verdict item 8): three
    // generations of raw band tables, two tombstone batches riding the
    // deltas, served via the generic doc-keyed LSM fold with the cap
    // re-derived over surviving rows (compacted-epoch semantics — the
    // band cap derives from stored counts, so serve ≡ rebuild EXACTLY
    // and the driver's hash gate proves it); the newest delta probes
    // the served view. BandLifecycle 1 GB evidence in DEDUP_1GB.md.
    QueryDef("near_dup_lsm",
      (s, d) => {
        val (gens, live, newestStart) = SharedIntermediates.lsmBandGens(s, d)
        // staged: the candidate step self-joins the served view (x and
        // y band legs) — unstaged, the LSM fold + recap would run twice
        val served = Materialize.stage(Dedup.serveBandsLsm(gens))
        Dedup.nearDupPairsIncrementalFromBands(live, served,
          Dedup.wordGrams, newestStart, 0.7)
      },
      Some(nearDupLsmSql(wordShinglesCte, 0.7))),

    QueryDef("near_dup_ngram",
      // two-leg verify: the char-12-gram stream is the dense-gram
      // regime where pair-membership replication loses on wall —
      // measurements in [[Dedup.verifyJaccard]]'s doc
      (s, d) => Dedup.nearDupPairsFromBands(Tables.documents(s, d),
        SharedIntermediates.charBands(s, d), Dedup.charGrams, 0.6,
        pairMembershipVerify = false),
      Some(nearDupSql(charShinglesCte, 0.6))),

    QueryDef("simhash_docs",
      (s, d) => Dedup.simhashDocs(Tables.documents(s, d)), Some(simhashSql)),

    QueryDef("dedup_clusters",
      (s, d) => SharedIntermediates.textClusters(s, d),
      Some(clustersSql)),

    QueryDef("dedup_canonical",
      (s, d) => Dedup.canonicalDocs(
        Tables.documents(s, d), SharedIntermediates.textClusters(s, d)),
      Some(canonicalSql)),

    // corpus-impact rollup of the dedup family: docs/chars removed by
    // the keep-longest policy, exact integers + one rounded ratio
    QueryDef("dedup_savings",
      (s, d) => Dedup.dedupSavings(
        Tables.documents(s, d), SharedIntermediates.textClusters(s, d)),
      Some(
        s"""WITH RECURSIVE $clustersCtes,
           |cl AS (SELECT doc_id, cluster_id, cluster_size
           |       FROM lab JOIN sz USING (cluster_id)),
           |corpus AS (SELECT count(*) AS n_docs,
           |                  CAST(sum(n_chars) AS BIGINT) AS chars_total
           |           FROM documents),
           |cj AS (SELECT cl.cluster_id, cl.cluster_size, d.doc_id, d.n_chars
           |       FROM cl JOIN documents d USING (doc_id)),
           |cstat AS (SELECT count(*) AS n_clustered,
           |                 CAST(sum(n_chars) AS BIGINT) AS chars_clustered
           |          FROM cj),
           |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
           |        ORDER BY n_chars DESC, doc_id ASC) AS rn FROM cj),
           |k AS (SELECT count(*) AS n_clusters,
           |             CAST(sum(n_chars) AS BIGINT) AS chars_kept
           |      FROM r WHERE rn = 1)
           |SELECT n_docs, n_clustered, n_clusters,
           |  n_clustered - n_clusters AS n_dropped,
           |  chars_total,
           |  chars_clustered - chars_kept AS chars_dropped,
           |  round(CAST(chars_clustered - chars_kept AS DOUBLE)
           |        / CAST(chars_total AS DOUBLE), 6) AS savings_ratio
           |FROM corpus, cstat, k""".stripMargin)),

    // the LSH operator graded against its exact ground truth at the
    // same τ=0.7 / word-3-gram definition (ssjoin_exact's result set):
    // recall is what banding bought, precision 1000‰ is proven by the
    // gate itself (verified candidates ⊆ exact pairs)
    QueryDef("lsh_recall_audit",
      (s, d) => Dedup.lshRecallAudit(
        SimJoin.jaccardJoinFromIndex(
          SharedIntermediates.wordGramIndex(s, d), 7, 10),
        SharedIntermediates.textPairs(s, d)),
      Some(s"""WITH lp AS (
           |  SELECT doc_a, doc_b FROM (${nearDupSql(wordShinglesCte, 0.7)}) l),
           |ex AS (SELECT doc_a, doc_b FROM (${SimJoinQueries.jaccardSql}) e),
           |u AS (
           |  SELECT doc_a, doc_b, max(in_ex) AS ex, max(in_lsh) AS ls FROM (
           |    SELECT doc_a, doc_b, 1 AS in_ex, 0 AS in_lsh FROM ex
           |    UNION ALL
           |    SELECT doc_a, doc_b, 0 AS in_ex, 1 AS in_lsh FROM lp) t0
           |  GROUP BY 1, 2),
           |a AS (SELECT CAST(sum(ex) AS BIGINT) AS n_exact,
           |        CAST(sum(ls) AS BIGINT) AS n_lsh,
           |        CAST(sum(ex * ls) AS BIGINT) AS n_hit
           |      FROM u)
           |SELECT n_exact, n_lsh, n_hit,
           |  CASE WHEN n_exact = 0 THEN CAST(NULL AS BIGINT)
           |       ELSE CAST((1000 * n_hit) // n_exact AS BIGINT) END AS recall_permille,
           |  CASE WHEN n_lsh = 0 THEN CAST(NULL AS BIGINT)
           |       ELSE CAST((1000 * n_hit) // n_lsh AS BIGINT) END AS precision_permille
           |FROM a""".stripMargin)),

    // dup × quality cross-audit: near-dup membership rate per exact
    // milli-quality band (500·types div tokens + 5·min(tokens,100))
    QueryDef("dup_quality_bias",
      (s, d) => TextAnalysis.dupQualityBias(Tables.documents(s, d),
        SharedIntermediates.textClusters(s, d)),
      Some(
        s"""WITH RECURSIVE $clustersCtes,
           |tq AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |q AS (
           |  SELECT doc_id,
           |    (500 * CAST(len(list_distinct(w)) AS BIGINT)) // CAST(len(w) AS BIGINT)
           |      + 5 * least(CAST(len(w) AS BIGINT), 100) AS quality_milli
           |  FROM tq WHERE len(w) > 0),
           |cm AS (SELECT DISTINCT doc_id FROM lab),
           |j AS (
           |  SELECT q.quality_milli // 100 AS quality_band,
           |         CASE WHEN cm.doc_id IS NULL THEN 0 ELSE 1 END AS in_dup
           |  FROM q LEFT JOIN cm ON cm.doc_id = q.doc_id)
           |SELECT quality_band, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(in_dup) AS BIGINT) AS n_clustered,
           |  (1000 * CAST(sum(in_dup) AS BIGINT)) // count(*) AS clustered_permille
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // the MinHash ESTIMATOR calibrated against exact Jaccard: stride +
    // near-dup pairs, 16 md5-derived components, per-decile error stats
    QueryDef("minhash_estimate_error",
      (s, d) => Dedup.minhashEstimateError(Tables.documents(s, d),
        SharedIntermediates.textPairs(s, d)),
      Some {
        // 32-bit int from the first 8 hex nibbles of a stored md5 column
        // (the nibSql ascii trick, applied to a column instead of an id)
        val u32 = TextAnalysisQueries.hexBigSql(8)
        s"""WITH $wordShinglesCte,
           |np AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1 + (a.doc_id % 29)),
           |nd AS (SELECT doc_a, doc_b FROM (${nearDupSql(wordShinglesCte, 0.7)}) x),
           |pr AS (SELECT DISTINCT doc_a, doc_b FROM
           |       (SELECT * FROM np UNION ALL SELECT * FROM nd) u0),
           |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
           |hj AS (
           |  SELECT doc_id, j, md5(g || '#' || CAST(j AS VARCHAR)) AS hex
           |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) jj),
           |hv AS (
           |  SELECT doc_id, j, min($u32) AS h FROM hj GROUP BY doc_id, j),
           |mm AS (
           |  SELECT pr.doc_a, pr.doc_b,
           |         CAST(sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) AS BIGINT) AS m
           |  FROM pr JOIN hv ha ON ha.doc_id = pr.doc_a
           |          JOIN hv hb ON hb.doc_id = pr.doc_b AND hb.j = ha.j
           |  GROUP BY 1, 2),
           |ix AS (
           |  SELECT pr.doc_a, pr.doc_b, CAST(count(*) AS BIGINT) AS ni
           |  FROM pr JOIN e ea ON ea.doc_id = pr.doc_a
           |          JOIN e eb ON eb.doc_id = pr.doc_b AND eb.g = ea.g
           |  GROUP BY 1, 2),
           |sz2 AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s),
           |per AS (
           |  SELECT (1000 * COALESCE(ni, 0)) // (sa.n + sb.n - COALESCE(ni, 0)) AS exact_pm,
           |         (1000 * m) // 16 AS est_pm
           |  FROM pr
           |  LEFT JOIN ix USING (doc_a, doc_b)
           |  JOIN mm USING (doc_a, doc_b)
           |  JOIN sz2 sa ON sa.doc_id = pr.doc_a
           |  JOIN sz2 sb ON sb.doc_id = pr.doc_b)
           |SELECT exact_pm // 100 AS jac_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(abs(est_pm - exact_pm)) // count(*) AS BIGINT) AS mean_abs_err_permille,
           |  CAST(max(abs(est_pm - exact_pm)) AS BIGINT) AS max_abs_err_permille,
           |  CAST(CASE WHEN sum(est_pm - exact_pm) < 0
           |       THEN -((-sum(est_pm - exact_pm)) // count(*))
           |       ELSE sum(est_pm - exact_pm) // count(*) END AS BIGINT) AS bias_permille
           |FROM per GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // the repair for split_leakage: per-CLUSTER split assignment (rep =
    // min doc_id), leakage impossible by construction; `moved` marks
    // the docs whose naive per-doc split was overridden
    QueryDef("leakage_free_split",
      (s, d) => Dedup.leakageFreeSplit(Tables.documents(s, d),
        SharedIntermediates.textClusters(s, d)),
      Some {
        def splitSql(idExpr: String) = {
          val bucket =
            s"(${nibSql(0, idExpr)} * 16 + ${nibSql(1, idExpr)})"
          s"CASE WHEN $bucket < 204 THEN 'train' WHEN $bucket < 230 THEN 'val' ELSE 'test' END"
        }
        s"""WITH RECURSIVE $clustersCtes,
           |j AS (
           |  SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS rep
           |  FROM documents d LEFT JOIN lab USING (doc_id))
           |SELECT doc_id, rep AS cluster_rep,
           |  ${splitSql("rep")} AS split,
           |  ${splitSql("rep")} != ${splitSql("doc_id")} AS moved
           |FROM j ORDER BY doc_id""".stripMargin
      }),

    // the audit the dedup machinery exists for: near-dup clusters whose
    // members straddle the 8/1/1 split assignment (train/eval leakage)
    QueryDef("split_leakage",
      (s, d) => Dedup.splitLeakage(SharedIntermediates.textClusters(s, d)),
      Some {
        val bucket = s"(${nibSql(0)} * 16 + ${nibSql(1)})"
        s"""WITH RECURSIVE $clustersCtes,
           |cl AS (SELECT doc_id, cluster_id, cluster_size
           |       FROM lab JOIN sz USING (cluster_id)),
           |sp AS (SELECT cluster_id, cluster_size,
           |         CASE WHEN $bucket < 204 THEN 'train'
           |              WHEN $bucket < 230 THEN 'val' ELSE 'test' END AS split
           |       FROM cl)
           |SELECT cluster_id, cluster_size,
           |  CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           |  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
           |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
           |FROM sp GROUP BY 1, 2
           |HAVING count(DISTINCT split) >= 2
           |ORDER BY cluster_id""".stripMargin
      }),
  )
}
