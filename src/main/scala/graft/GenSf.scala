package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for SCALE FACTORS THE DRIVER
  * DOES NOT SHIP (the driver's testdata stops at sf0.1; the round-8
  * verdict asked for the full registry at sf1 = 10×). Mirrors the
  * sf0.1 tables structurally — same schemas, FK integrity, value
  * ranges, language/source/segment distributions, planted exact-dup
  * and near-dup document groups, label-clustered embeddings — scaled
  * by the multiplier, so every registered query runs unmodified and
  * the df-sensitive operators (exact similarity joins over a fixed
  * 31-word vocabulary) see the ORGANIC gram-frequency growth a larger
  * corpus implies, not 10 stitched copies of the same corpus.
  *
  * All draws are xxhash64-keyed (pure Catalyst, distributed, no
  * driver-side randomness, reproducible bit-for-bit), the same
  * pattern as the [[flagship.Ann]] scenarios' corpus. NOT a substitute for the
  * driver's data at the oracle scales — correctness stays gated on
  * /root/testdata; this exists for scaling measurements only.
  *
  * Usage: scripts/run.sh graft.GenSf /tmp/sf1 10 [vocabN]
  * (vocabN > 0 switches documents to an N-word synthetic vocabulary —
  * the Heaps'-law lever for the similarity-join scaling experiment;
  * 0/absent = the driver-matching fixed 31-word list.)
  */
object GenSf {

  /** u ~ Uniform[0,1) keyed on (id-expression, salt) — as DOUBLE (a
    * bare `x / 1000000.0` would be DECIMAL arithmetic: Spark parses
    * fractional literals as decimals, and decimal-typed money columns
    * would diverge from the driver's DOUBLE schema — caught by
    * grouped_topk's typed-Dataset upcast at sf1). */
  private def u(idExpr: String, salt: Int): String =
    s"(CAST(pmod(xxhash64($idExpr, $salt), 1000000) AS DOUBLE) / CAST(1000000 AS DOUBLE))"

  private val Vocab = Seq("spark", "line", "column", "order", "small",
    "sort", "batch", "part", "scan", "fast", "query", "agg", "data",
    "stream", "group", "merge", "vector", "filter", "customer", "value",
    "slow", "index", "join", "shuffle", "cache", "table", "row", "key",
    "hash", "plan", "node")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val mult = if (args.length > 1) args(1).toInt else 10
    val spark = Session.build("graft-gensf")

    // sf0.1 base counts × mult (embeddings follow the driver's own
    // sub-linear ×4-per-decade trend)
    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult
    val nOrders = 150000L * mult
    val nLine = 600000L * mult
    val nEvents = 100000L * mult
    val nUsers = 1500L * mult
    val nDocs = 5000L * mult
    // embeddings follow the driver's ×4-per-decade trend AS A RULE
    // (nVecs = 2000·mult^log10(4) — exactly 8000 at mult=10, ~32k at
    // mult=100), not a single hard-coded point (review finding)
    val nVecs = math.round(2000.0 *
      math.pow(mult.toDouble, math.log(4.0) / math.log(10.0)))

    def write(name: String, df: DataFrame, parts: Int = 32): Unit = {
      val t0 = System.nanoTime()
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(f"$name%-10s written in ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    }

    write("region", spark.range(5).selectExpr("CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), " +
        "CAST(id+1 AS INT)) AS r_name"), 1)

    write("nation", spark.range(25).selectExpr("CAST(id AS INT) AS n_nationkey",
      "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey"), 1)

    write("customer", spark.range(nCust).selectExpr(
      "id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      "CAST(pmod(xxhash64(id, 11), 25) AS INT) AS c_nationkey",
      s"round(${u("id", 12)} * 11000.0 - 1000.0, 2) AS c_acctbal",
      s"element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'), " +
        s"CAST(pmod(xxhash64(id, 13), 5) + 1 AS INT)) AS c_mktsegment"))

    write("supplier", spark.range(nSupp).selectExpr(
      "id AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      "CAST(pmod(xxhash64(id, 21), 25) AS INT) AS s_nationkey",
      s"round(${u("id", 22)} * 11000.0 - 1000.0, 2) AS s_acctbal"))

    val colors = "array('large','hot','blue','red','green','small','dim','plated'," +
      "'polished','rusty')"
    val shapes = "array('ring','bolt','screw','washer','anchor','cog','plate','rod')"
    write("part", spark.range(nPart).selectExpr(
      "id AS p_partkey",
      s"concat(element_at($colors, CAST(pmod(xxhash64(id, 31), 10) + 1 AS INT)), ' ', " +
        s"element_at($shapes, CAST(pmod(xxhash64(id, 32), 8) + 1 AS INT))) AS p_name",
      "concat('Brand#', pmod(xxhash64(id, 33), 25) + 1) AS p_brand",
      "element_at(array('ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'), " +
        "CAST(pmod(xxhash64(id, 34), 6) + 1 AS INT)) AS p_type",
      "CAST(pmod(xxhash64(id, 35), 50) + 1 AS INT) AS p_size",
      "round(900.0 + CAST(pmod(id, 1000) AS DOUBLE) / 10.0, 2) AS p_retailprice"))

    // orders span 1995-01-01 .. 2001-08-01 (~2404 days), like sf0.1
    write("orders", spark.range(nOrders).selectExpr(
      "id AS o_orderkey",
      s"pmod(xxhash64(id, 41), $nCust) AS o_custkey",
      "element_at(array('F','O','P'), CAST(pmod(xxhash64(id, 42), 3) + 1 AS INT)) AS o_orderstatus",
      s"round(1000.0 + ${u("id", 43)} * 499000.0, 2) AS o_totalprice",
      s"CAST(date_add(DATE'1995-01-01', CAST(pmod(xxhash64(id, 44), 2404) AS INT)) AS TIMESTAMP) AS o_orderdate",
      "element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), " +
        "CAST(pmod(xxhash64(id, 45), 5) + 1 AS INT)) AS o_orderpriority"))

    write("lineitem", spark.range(nLine).selectExpr(
      s"pmod(xxhash64(id, 51), $nOrders) AS l_orderkey",
      s"pmod(xxhash64(id, 52), $nPart) AS l_partkey",
      s"pmod(xxhash64(id, 53), $nSupp) AS l_suppkey",
      "CAST(pmod(xxhash64(id, 54), 7) + 1 AS INT) AS l_linenumber",
      "CAST(pmod(xxhash64(id, 55), 50) + 1 AS DOUBLE) AS l_quantity",
      s"round(1000.0 + ${u("id", 56)} * 104000.0, 2) AS l_extendedprice",
      "CAST(pmod(xxhash64(id, 57), 11) AS DOUBLE) / 100.0 AS l_discount",
      "CAST(pmod(xxhash64(id, 58), 9) AS DOUBLE) / 100.0 AS l_tax",
      "element_at(array('A','N','R'), CAST(pmod(xxhash64(id, 59), 3) + 1 AS INT)) AS l_returnflag",
      "element_at(array('F','O'), CAST(pmod(xxhash64(id, 60), 2) + 1 AS INT)) AS l_linestatus",
      s"CAST(date_add(DATE'1995-01-01', CAST(pmod(xxhash64(id, 61), 2499) AS INT)) AS TIMESTAMP) AS l_shipdate"))

    // events: 30-day span, ~67 events/user (density held constant so
    // sessionization state grows with users, not per-user volume)
    write("events", spark.range(nEvents).selectExpr(
      "id AS event_id",
      s"timestampadd(SECOND, CAST(pmod(xxhash64(id, 71), ${30L * 86400}) AS INT), " +
        "TIMESTAMP'2024-01-01 00:00:00') AS ts",
      s"pmod(xxhash64(id, 72), $nUsers) AS user_id",
      "element_at(array('click','error','purchase','signup','view'), " +
        "CAST(pmod(xxhash64(id, 73), 5) + 1 AS INT)) AS event_type",
      // exponential-ish: -mean·ln(u) clipped, like the observed tail
      s"round(least(-50.0 * ln(1.0 - ${u("id", 74)} * 0.99999), ${Tables.MaxEventValue}), 2) AS value",
      "concat('{\"k\": ', pmod(xxhash64(id, 75), 100), '}') AS props"))

    // documents: 31-word vocab, 8..95 words/doc; text is a pure
    // function of tseed so docs sharing tseed are EXACT DUPS (~2%,
    // grouped onto base docs), and the 2-5% band takes a base doc's
    // text plus one extra keyed word = NEAR DUP of that base. Base
    // universe = first nDocs/100 ids, giving dup groups of a few
    // members each at any sf (matching the sf0.1 structure of small
    // dup clusters, organically grown).
    val nBase = math.max(50L, nDocs / 100)
    // Optional 3rd arg = synthetic vocabulary size (0 = the driver's
    // fixed 31-word list). A growing vocabulary is the Heaps'-law
    // experiment lever for the exact similarity joins: with the fixed
    // list, gram document frequency grows linearly with the corpus and
    // candidate generation approaches its Σdf² worst case; real
    // corpora grow vocabulary with size, spreading df. Synthetic words
    // are 3 base-26 letters (all alphabetic — the tokenizer keeps only
    // [a-z']+ runs), vocabN ≤ 17,576.
    val vocabN = if (args.length > 2) args(2).toInt else 0
    def word(idxExpr: String): String =
      if (vocabN <= 0)
        s"element_at(array(${Vocab.map("'" + _ + "'").mkString(",")}), " +
          s"CAST(pmod($idxExpr, ${Vocab.size}) + 1 AS INT))"
      else {
        val w = s"pmod($idxExpr, $vocabN)"
        s"concat(char(97 + pmod($w, 26)), char(97 + pmod($w DIV 26, 26)), " +
          s"char(97 + pmod($w DIV 676, 26)))"
      }
    val wordsOf = (seedCol: String, nwCol: String) =>
      s"""array_join(transform(sequence(1, $nwCol), i ->
         |  ${word(s"xxhash64($seedCol, i, 91)")}), ' ')""".stripMargin
    val docs = spark.range(nDocs)
      .selectExpr("id AS doc_id", s"${u("id", 92)} AS udup",
        s"pmod(xxhash64(id, 93), $nBase) AS base_id")
      .selectExpr("doc_id",
        s"CASE WHEN udup < 0.02 THEN base_id ELSE doc_id END AS tseed",
        "CASE WHEN udup >= 0.02 AND udup < 0.05 THEN base_id ELSE -1 END AS near_of")
      .selectExpr("doc_id",
        "CASE WHEN near_of >= 0 THEN near_of ELSE tseed END AS tseed",
        "near_of")
      .selectExpr("doc_id", "near_of",
        "CAST(8 + pmod(xxhash64(tseed, 94), 88) AS INT) AS nw", "tseed")
      .selectExpr("doc_id",
        s"""CASE WHEN near_of >= 0
           |  THEN concat(${wordsOf("tseed", "nw")}, ' ',
           |    ${word("xxhash64(doc_id, 95)")})
           |  ELSE ${wordsOf("tseed", "nw")} END AS text""".stripMargin,
        s"""CASE WHEN ${u("doc_id", 96)} < 0.41 THEN 'en'
           |     WHEN ${u("doc_id", 96)} < 0.56 THEN 'zh'
           |     WHEN ${u("doc_id", 96)} < 0.71 THEN 'es'
           |     WHEN ${u("doc_id", 96)} < 0.86 THEN 'fr'
           |     ELSE 'de' END AS lang""".stripMargin,
        "concat('src', pmod(xxhash64(doc_id, 97), 20)) AS source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    write("documents", docs)

    // embeddings: 64-dim float, 10 label clusters (centers keyed on
    // label, per-vector noise) — the flagship.Ann recipe at the
    // registry's scale and schema
    write("embeddings", spark.range(nVecs).selectExpr(
      "id AS vec_id",
      s"""transform(sequence(1, 64), i -> CAST(
         |  (pmod(xxhash64(pmod(id, 10), i, 81), 1000000) / 500000.0 - 1.0) * 0.2
         |  + (pmod(xxhash64(id, i, 82), 1000000) / 500000.0 - 1.0) * 0.1
         |AS FLOAT)) AS embedding""".stripMargin,
      "CAST(pmod(id, 10) AS INT) AS label"))

    println(s"done: $out at ${mult}x sf0.1")
    spark.stop()
  }
}
