package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Search}

/** Band-index LSM lifecycle at ~1 GB (r11 verdict item 8): the dedup
  * band index driven through the same end-to-end lifecycle
  * [[CompactionFlagship]] proves for postings — ingest generations
  * accumulate raw band deltas, a tombstone batch rides one of them,
  * the incremental near-dup probe is measured against the growing
  * generation stack, the 20% size-tiered trigger
  * ([[Search.compactionDue]] on BAND ROW counts) fires, and compaction
  * writes the served view as a new durable base. Parity gates:
  *
  *  1. stack-vs-compacted: the newest delta's near-dup probe over the
  *     generation stack equals the probe over the compacted base;
  *  2. rebuild parity: the served/compacted band table equals
  *     [[Dedup.cappedBands]] rebuilt from the live corpus — EXACT, not
  *     merely ⊆, because [[Dedup.serveBandsLsm]] re-derives the cap
  *     over surviving rows (compacted-epoch semantics; affordable for
  *     bands because the cap is a count over stored index rows);
  *  3. physical-removal arithmetic on the pre-cap fold: |folded raw| =
  *     |base raw| − |tombstoned base raw rows| + Σ|delta raw|.
  *
  * Corpus: the [[DedupFlagship]] generator (planted near-dups, so
  * probes return real pairs). Base = first ~82%; 6 deltas of 3%; the
  * tombstone batch (base doc_id ≡ 3 mod 97) rides generation 3. Band
  * hash: the production [[Dedup.fastBandTable]] path.
  *
  * Results recorded in DEDUP_1GB.md. Usage:
  *   scripts/run.sh graft.BandLifecycleFlagship [nDocs] [workDir]
  */
object BandLifecycleFlagship {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_bandlife1g"
    val spark = Session.build("graft-band-lifecycle-flagship")

    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"stage $name%-16s $dt%8.1f s")
      (r, dt)
    }

    // ---- corpus (shared generator; reused across runs via _SUCCESS)
    val corpusDir = s"$work/corpus"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusDir/_SUCCESS"))) {
      val t0 = System.nanoTime()
      DedupFlagship.genCorpus(spark, corpusDir, nDocs)
      println(f"setup: corpus generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val docs = spark.read.parquet(corpusDir)
    val bytes = docs.agg(sum("n_chars")).head().getLong(0)
    println(s"corpus: $nDocs docs, $bytes chars")

    // ---- generation bounds: base ~82%, 6 deltas of 3%
    val dSize = math.floor(nDocs * 0.03).toLong
    val nBase = nDocs - 6 * dSize
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)

    // raw (uncapped) band tables per generation, durable — the
    // maintained index files; each delta build is |Δ|-sized work
    def rawDir(g: Int) = s"$work/raw_g$g"
    def buildRaw(g: Int, lo: Long, hi: Long): Unit =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${rawDir(g)}/_SUCCESS"))) {
        val (_, t) = timed(s"build_raw_g$g") {
          Dedup.fastBandTable(Dedup.wordGrams(slice(lo, hi)))
            .write.mode("overwrite").parquet(rawDir(g))
        }
        val _ = t
      }
    buildRaw(0, 0L, nBase)
    (1 to 6).foreach(g =>
      buildRaw(g, nBase + (g - 1) * dSize, nBase + g * dSize))
    def raw(g: Int) = spark.read.parquet(rawDir(g))

    val tombs = docs.filter(col("doc_id") < nBase && col("doc_id") % 97 === 3)
      .select("doc_id").localCheckpoint()
    val nTombs = tombs.count()
    val live = docs.join(tombs, Seq("doc_id"), "left_anti")

    def gens(g: Int): Seq[Search.Generation] =
      Search.Generation(raw(0)) +: (1 to g).map(i =>
        Search.Generation(raw(i), if (i == 3) Some(tombs) else None))

    // ---- probe-vs-generation-count curve + the compaction trigger
    val baseRows = raw(0).count()
    var firedAt = -1
    var lastServedProbe: Set[(Long, Long)] = Set.empty
    (1 to 6).foreach { g =>
      val splitId = nBase + (g - 1) * dSize
      // the verify doc set must match the index's LSM state AT THIS
      // GENERATION: the tombstone batch rides generation 3, so for
      // g < 3 the served index still contains (and can pair) the
      // to-be-deleted base docs (review finding: using the post-delete
      // set for every g silently dropped their candidates early)
      val liveG = (if (g >= 3) live else docs)
        .filter(col("doc_id") < nBase + g * dSize)
      val (probe, tProbe) = timed(s"probe_g$g") {
        // staged like the registry twin: the candidate self-join and
        // the recap's two consumers would otherwise re-run the fold
        // up to 4× inside the timed region (review finding)
        val served = operators.Materialize.stage(Dedup.serveBandsLsm(gens(g)))
        Dedup.nearDupPairsIncrementalFromBands(liveG, served,
          Dedup.wordGrams, splitId, DedupFlagship.Threshold)
          .select(col("doc_a"), col("doc_b")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val deltaRows = (1 to g).map(i => raw(i).count()).sum
      val due = Search.compactionDue(baseRows, deltaRows)
      println(f"gen $g: probe ${probe.size}%4d pairs in $tProbe%6.1f s, " +
        f"delta_rows $deltaRows%9d / base_rows $baseRows%9d, " +
        s"compaction_due=$due")
      if (due && firedAt < 0) firedAt = g
      if (g == 6) lastServedProbe = probe
    }
    require(firedAt == 6,
      s"20% trigger expected at generation 6 (3%×6 = 18%→22% of 82%), fired at $firedAt")

    // ---- compact: write the served view as the new base
    val (_, tCompact) = timed("compact") {
      Dedup.serveBandsLsm(gens(6))
        .write.mode("overwrite").parquet(s"$work/base_epoch2")
    }
    val compacted = spark.read.parquet(s"$work/base_epoch2")

    // gate 1: stack-vs-compacted probe parity
    val probeCompacted = Dedup.nearDupPairsIncrementalFromBands(
        live, compacted, Dedup.wordGrams, nBase + 5 * dSize,
        DedupFlagship.Threshold)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    require(probeCompacted == lastServedProbe,
      s"stack-vs-compacted probe mismatch: ${probeCompacted.size} vs ${lastServedProbe.size}")

    // gate 2: rebuild parity (EXACT — compacted-epoch cap)
    val (rebuild, tRebuild) = timed("rebuild_parity") {
      Dedup.cappedBands(Dedup.wordGrams(live), Dedup.MaxBandBucket,
        table = Dedup.fastBandTable).localCheckpoint()
    }
    // order-invariant digest: XOR of per-row hashes (the
    // table_fingerprint trick) + row count
    def bandSet(df: DataFrame): (Long, Long) = {
      val r = df.agg(expr("bit_xor(xxhash64(doc_id, band))"),
        count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (xorC, nC) = bandSet(compacted)
    val (xorR, nR) = bandSet(rebuild)
    require(xorC == xorR && nC == nR,
      s"rebuild parity failed: compacted ($nC rows, $xorC) vs rebuild ($nR rows, $xorR)")

    // gate 3: physical-removal arithmetic on the pre-cap fold
    val folded = Search.servePostingsLsm(gens(6)).count()
    val tombedBaseRows = raw(0)
      .join(tombs, Seq("doc_id"), "left_semi").count()
    val deltaTotal = (1 to 6).map(i => raw(i).count()).sum
    require(folded == baseRows - tombedBaseRows + deltaTotal,
      s"fold arithmetic: $folded != $baseRows - $tombedBaseRows + $deltaTotal")

    println(s"""{"metric":"band_lifecycle","n_docs":$nDocs,"bytes":$bytes,""" +
      s""""base_rows":$baseRows,"delta_rows":$deltaTotal,"tombstones":$nTombs,""" +
      s""""fired_at_gen":$firedAt,"compact_sec":${math.round(tCompact * 10) / 10.0},""" +
      s""""rebuild_sec":${math.round(tRebuild * 10) / 10.0},""" +
      s""""probe_pairs":${lastServedProbe.size},"parity":true}""")
    spark.stop()
  }
}
