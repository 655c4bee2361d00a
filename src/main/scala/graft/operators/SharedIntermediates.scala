package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Session-scoped materialized intermediates shared across query
  * entries — this engine's equivalent of an index / materialized view.
  *
  * Several registry queries consume the same expensive intermediate:
  * the word-gram near-dup pair table feeds five entries (pairs,
  * clusters, canonical, ensemble, graph stats), the embedding pair
  * table two, and the IVF centroid table three. Recomputing the full
  * pipeline per entry is how the round-4 suite tripled its dedup cost.
  * At 100 TB the point is structural, not cosmetic: near-dup pair
  * tables and ANN index structures are BUILT ONCE and served to every
  * downstream consumer — no production pipeline re-shingles the corpus
  * per query.
  *
  * Mechanism: every build goes through [[Materialize.memo]] — once per
  * (session, dataset), timed, evicted at application end — and, for
  * plain tables, through [[Materialize.table]] (eager localCheckpoint in
  * single-JVM mode, durable content-keyed parquet when
  * `spark.graft.index.dir` is set).
  *
  * The thresholds here are the registry's published operator
  * parameters (jaccard 0.7 on word 3-grams, cosine 0.35) — the same
  * constants the DuckDB oracle SQL inlines.
  */
object SharedIntermediates {
  /** Durable-key suffix: dataset path + content fingerprint, so a
    * REGENERATED dataset under the same path can never be served a
    * stale index from a pre-existing spark.graft.index.dir (see
    * [[Materialize.sourceFingerprint]]). */
  private def keyOf(s: SparkSession, name: String, d: String): String =
    s"$name:$d@${Materialize.sourceFingerprint(s, Seq(d))}"

  /** Capped word-gram LSH band table — the maintained dedup INDEX the
    * batch pair build and the incremental path both probe. */
  def textBands(s: SparkSession, d: String): DataFrame = {
    val k = keyOf(s, "textBands", d)
    Materialize.memo(s, k) {
      Dedup.cappedBands(Dedup.wordGrams(Tables.documents(s, d)),
        Dedup.MaxBandBucket, t => Materialize.table(s, k)(t()))
    }
  }

  /** Capped char-12-gram LSH band table — the second maintained dedup
    * index (near_dup_ngram's published parameters: 12-char shingles,
    * jaccard 0.6). Without this, every bench invocation of the n-gram
    * query re-ran the full gram→minhash→band build twice (warm+timed). */
  def charBands(s: SparkSession, d: String): DataFrame = {
    val k = keyOf(s, "charBands", d)
    Materialize.memo(s, k) {
      Dedup.cappedBands(Dedup.charGrams(Tables.documents(s, d)),
        Dedup.MaxBandBucket, t => Materialize.table(s, k)(t()))
    }
  }

  /** Word-3-gram MinHash near-dup pairs at jaccard >= 0.7. */
  def textPairs(s: SparkSession, d: String): DataFrame = {
    val tb = textBands(s, d) // built first, so its time is its own
    Materialize.index(s, keyOf(s, "textPairs", d)) {
      Dedup.nearDupPairsFromBands(Tables.documents(s, d), tb,
        Dedup.wordGrams, 0.7)
    }
  }

  /** Embedding-cosine near-dup pairs at cosine >= 0.35. */
  def embPairs(s: SparkSession, d: String): DataFrame =
    Materialize.index(s, keyOf(s, "embPairs", d)) {
      Similarity.embeddingNearDup(Tables.embeddings(s, d), 0.35,
        corpusCount = Some(Tables.rowCount(s, d, "embeddings")),
        materialize = t => Materialize.table(s, keyOf(s, "embBuckets", d))(t()))
    }

  /** Canonical-order word-gram index (doc_id, g, n, r) — the AllPairs
    * prefix-filtering index both EXACT similarity joins (jaccard and
    * containment, any threshold) and their verification stages serve
    * from ([[SimJoin.rankedGramIndex]]). */
  def wordGramIndex(s: SparkSession, d: String): DataFrame =
    Materialize.index(s, keyOf(s, "wordGramIndex", d)) {
      SimJoin.rankedGramIndex(Tables.documents(s, d), Dedup.wordGrams)
    }

  /** Positional inverted index (tok, doc_id, pos) over documents — the
    * maintained SEARCH index every [[Search]] probe runs against. */
  def postings(s: SparkSession, d: String): DataFrame =
    Materialize.index(s, keyOf(s, "postings", d))(Search.postings(Tables.documents(s, d)))

  /** Per-document token counts of [[postings]] — the one corpus-wide
    * aggregate a BM25 probe needs, precomputed into the index like the
    * centroid/assignment tables so repeated probes pay only
    * posting-list work (advisor finding: before this, every
    * bm25SearchFor/searchEvalNdcg call re-ran a full-index groupBy). */
  def postingsDocLengths(s: SparkSession, d: String): DataFrame = {
    val idx = postings(s, d)
    Materialize.index(s, keyOf(s, "postingsDl", d))(Search.docLengths(idx))
  }

  /** Incremental postings serving view: a durable BASE index over the
    * stable ~90% of the corpus (pmod(doc_id, 10) < 9 — the stand-in for
    * "everything ingested before today") unioned with a DELTA indexed
    * fresh over the newest ~10%. Probes over this view are
    * oracle-gated against the full-corpus rebuild
    * (bm25_search_incremental), which pins the maintenance identity
    * postings(A ∪ B) = postings(A) ∪ postings(B) in the driver gate
    * itself; [[Search.servePostings]] documents the compaction policy. */
  def postingsIncremental(s: SparkSession, d: String): DataFrame = {
    val (base, deltaDocs) = postingsBaseDelta(s, d)
    Search.servePostings(base, Search.postingsDelta(deltaDocs))
  }

  /** The incremental entries' 90/10 split: the durable BASE postings
    * over pmod(doc_id, 10) < 9 and the DELTA documents (= 9). */
  private def postingsBaseDelta(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = Tables.documents(s, d)
    (Materialize.index(s, keyOf(s, "postingsBase", d))(
      Search.postings(docs.filter(pmod(col("doc_id"), lit(10)) < 9))),
      docs.filter(pmod(col("doc_id"), lit(10)) === 9))
  }

  /** Doc lengths of the base postings, durable beside them. */
  private def postingsBaseDl(s: SparkSession, d: String, base: DataFrame)
      : DataFrame =
    Materialize.index(s, keyOf(s, "postingsBaseDl", d))(Search.docLengths(base))

  /** The PRODUCTION incremental serving shape (r10 verdict item 3):
    * durable base postings + durable base doc-lengths, with only the
    * delta (the newest ~10%) indexed per serve — per-invocation work is
    * DELTA-sized (one map-only explode + a delta-sized dl aggregate +
    * the posting-list-bounded probe), where [[postingsIncremental]]'s
    * registry twin deliberately recomputes dl from the union (the
    * fresh-delta path) and so pays a corpus-sized aggregate per call.
    * Doc-length union is exact because the doc sets are disjoint.
    * Returns (postings view, doc-length view). */
  def postingsIncrementalServed(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val (base, deltaDocs) = postingsBaseDelta(s, d)
    val baseDl = postingsBaseDl(s, d, base)
    val delta = Search.postingsDelta(deltaDocs)
    (Search.servePostings(base, delta),
      baseDl.unionByName(Search.docLengths(delta)))
  }

  /** Incremental serving WITH DELETES (r10 verdict item 1): the newest
    * generation carries a tombstone set (here the deterministic
    * stand-in for a takedown batch: base docs with doc_id ≡ 3 mod 7);
    * the base postings AND the base doc-length index are anti-joined at
    * serve time — tombstone-sized work, never a rebuild. Oracle-gated
    * against the full rebuild on the post-delete corpus
    * (bm25_search_tombstoned), the same gate trick as the incremental
    * entry: the driver's own hash compare pins the delete identity
    * postings(A \\ T ∪ B) = tombstone-serve(postings(A), T, B). */
  def postingsTombstoned(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val (base, deltaDocs) = postingsBaseDelta(s, d)
    val baseDl = postingsBaseDl(s, d, base)
    val tombs = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id"))
    val delta = Search.postingsDelta(deltaDocs)
    (Search.applyTombstones(base, tombs).unionByName(delta),
      Search.applyTombstones(baseDl, tombs)
        .unionByName(Search.docLengths(delta)))
  }

  /** Per-generation RAW band tables + tombstone batches for the band
    * LSM lifecycle entry (near_dup_lsm): generation 0 = docs below the
    * 80% split, 1 = [80%, 90%), 2 = the rest; tombstone batch 1 (rides
    * gen 1) = gen-0 docs ≡ 3 mod 7, batch 2 (rides gen 2) = docs below
    * 90% ≡ 5 mod 11. In production these are durable index files
    * written at ingest time — here content-keyed cached builds, so the
    * registry entry measures the SERVE (LSM fold + recap + probe), and
    * the one-time build cost stays visible in the bench's index_build
    * map like every other maintained index. Returns (generations, live
    * docs, newest-generation start id) — the split id travels WITH the
    * layout so a caller can never probe against a stale boundary
    * (review finding: the 0.9 constant had been duplicated). */
  def lsmBandGens(s: SparkSession, d: String)
      : (Seq[Search.Generation], DataFrame, Long) = {
    import org.apache.spark.sql.functions.col
    val n = Tables.rowCount(s, d, "documents").toDouble
    val s1 = math.floor(n * 0.8).toLong
    val s2 = math.floor(n * 0.9).toLong
    val docs = Tables.documents(s, d)
    // ONE raw full-corpus band build, generations derived by doc_id
    // range filters over the cached table (r12 verdict: the three
    // per-generation builds each re-ran the gram→minhash→band corpus
    // scan — 8.4 s of the bench's index_build_total for rows one scan
    // produces). Legal because the build is purely per-document
    // (per-doc minhash → per-doc band rows), so filtering by doc_id
    // commutes through it: bandTable(grams(docs.filter(f))) ==
    // bandTable(grams(docs)).filter(f) row-for-row. In production the
    // per-generation files are still written at their own ingest time;
    // only this bench-side stand-in shares the scan.
    val all = Materialize.index(s, keyOf(s, "bandRawAll", d))(
      Dedup.bandTable(Dedup.wordGrams(docs)))
    val (g0, g1, g2) = (all.filter(col("doc_id") < s1),
      all.filter(col("doc_id") >= s1 && col("doc_id") < s2),
      all.filter(col("doc_id") >= s2))
    val tomb1 = docs.filter(col("doc_id") < s1 && col("doc_id") % 7 === 3)
      .select("doc_id")
    val tomb2 = docs.filter(col("doc_id") < s2 && col("doc_id") % 11 === 5)
      .select("doc_id")
    (Seq(Search.Generation(g0),
      Search.Generation(g1, Some(tomb1)),
      Search.Generation(g2, Some(tomb2))),
      docs.join(tomb1.union(tomb2), Seq("doc_id"), "left_anti"),
      s2)
  }

  /** Per-customer lifetime spend (c_custkey, c_nationkey, cents) with
    * orderless customers at zero — the ONE spend rollup the
    * inequality family (revenue_gini, revenue_theil, lorenz_deciles)
    * probes; each had re-run the same orders-scale FK shuffle
    * (review finding, the coPurchasePairs class), and a single
    * definition keeps the three entries' spend semantics from
    * drifting. */
  def customerSpend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Materialize.index(s, keyOf(s, "customerSpend", d))(
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(Tables.orders(s, d)
            .groupBy(col("o_custkey"))
            .agg(sum(round(col("o_totalprice") * 100).cast("long"))
              .as("cents0")),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("c_custkey"), col("c_nationkey"),
          coalesce(col("cents0"), lit(0L)).as("cents")))
  }

  /** Distinct (order, part) basket projection — shared by the two
    * co-purchase entries. */
  def basketItems(s: SparkSession, d: String): DataFrame =
    Materialize.index(s, keyOf(s, "basketItems", d))(
      Behavior.basketItems(Tables.lineitem(s, d)))

  /** Oriented co-purchase pair counts — the maintained MARKET-BASKET
    * index: basket_lift and triangle_copurchase both probe it (each
    * had re-run the Σs² order-key self-join; measured ~9 s CPU per
    * entry per bench pass at sf0.1). */
  def coPurchasePairs(s: SparkSession, d: String): DataFrame = {
    val it = basketItems(s, d)
    Materialize.index(s, keyOf(s, "coPurchasePairs", d))(Behavior.pairCounts(it))
  }

  /** Connected components over [[textPairs]]. */
  def textClusters(s: SparkSession, d: String): DataFrame = {
    val tp = textPairs(s, d)
    Materialize.index(s, keyOf(s, "textClusters", d))(Dedup.nearDupClusters(tp))
  }
}
