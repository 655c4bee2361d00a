package graft

import java.util.Locale

import graft.operators.WordCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{array_distinct, count, explode, lit, spark_partition_id}
import org.apache.spark.sql.types.LongType

/** Reference-semantics unit tests for the word-count family:
  * token alphabet `[A-Za-z']+` lowercased, deterministic top-k tie-break
  * (count DESC, length DESC, word ASC), and the shuffle invariants the
  * reference establishes operationally (SURVEY.md §5.2).
  */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(lines: String*): DataFrame =
    lines.toSeq.toDF("text")

  test("tokenizer: apostrophes kept, digits split, non-ASCII dropped, case folded") {
    val toks = WordCount.tokens(corpus("Don't STOP abc123def émigré", "", "  "))
      .as[String].collect().toSeq
    // é is non-ASCII → excluded from [a-z']+; "migr" remains from émigré
    assert(toks == Seq("don't", "stop", "abc", "def", "migr"))

    // tokenCounts' combining kernel equals the builtin form on adversarial
    // lines, at 1 and 4 input partitions
    val long = "Ab" * WordCount.InitialBuffer + "c"
    val lines = corpus("Hello WORLD hello World hELLO", "'", "''", "don't dogs' 'tis o'Clock",
      "abc123def,ghi;jkl-mno 42 x_y(z)", "", "   \t  ", null, s"$long x $long",
      "émigré Émigré", "\u212Aabc KELVIN", "\u0130stanbul", "Straße STRASSE")
      .union(spark.sql("SELECT CAST(unhex(h) AS STRING) AS text FROM VALUES " +
        "('80616263'), ('E2616263'), ('C1816263'), ('61FF62') AS t(h)"))
    for (n <- Seq(1, 4)) {
      val df = lines.repartition(n)
      val want = WordCount.tokens(df).groupBy("word").count().as[(String, Long)].collect()
      val got = WordCount.tokenCounts(df).as[(String, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length)
      assert(got.toSet == want.toSet, s"$n partitions")
      assert(want.toSet.contains(("kabc", 1L)))
      assert(want.toSet.contains((long.toLowerCase(Locale.ROOT), 2L)))
    }
  }

  test("top-20 tie-break is (cnt DESC, length DESC, word ASC)") {
    val df = corpus("bb aa aa bb cc ddd")
    val got = WordCount.top20(df).as[(String, Long)].collect().toSeq
    // aa/bb tie at cnt=2 → word ASC; cc/ddd tie at cnt=1 → longer first
    assert(got == Seq(("aa", 2L), ("bb", 2L), ("ddd", 1L), ("cc", 1L)))
  }

  test("word-count result is shuffle-partition invariant (reference worker-count invariance)") {
    val docs = Tables.documents(spark, sf0001)
    val base = WordCount.tokenCounts(docs).orderBy("word")
      .as[(String, Long)].collect().toSeq
    for (p <- Seq("1", "7")) {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", p)
      val got = WordCount.tokenCounts(Tables.documents(s2, sf0001))
        .orderBy("word").as[(String, Long)].collect().toSeq
      assert(got == base, s"shuffle.partitions=$p changed the result")
    }
  }

  test("partition counts preserve total mass (reference O8/O9 invariant)") {
    val docs = Tables.documents(spark, sf0001)
    val total = WordCount.tokens(docs).count()
    val partSum = WordCount.partitionCounts(docs)
      .agg(org.apache.spark.sql.functions.sum("total_cnt")).as[Long].head()
    assert(partSum == total)
  }

  test("doc_stats row per document, chars consistent") {
    val docs = Tables.documents(spark, sf0001)
    val stats = WordCount.docStats(docs)
    assert(stats.count() == docs.count())
    // n_chars matches the table's own text length
    val joined = stats.select($"doc_id", $"n_chars".as("stat_chars"))
      .join(docs, "doc_id")
      .where($"stat_chars" =!= org.apache.spark.sql.functions.length($"text"))
    assert(joined.count() == 0)
  }

  test("combiner: one exchange, at most one row per partition and word, cnt a non-null BIGINT") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = Tables.documents(s2, sf0001)
    val counts = WordCount.tokenCounts(docs)
    assert(counts.schema == WordCount.tokens(docs).groupBy("word")
      .agg(count(lit(1)).as("cnt")).schema)
    assert(counts.schema("cnt").dataType == LongType && !counts.schema("cnt").nullable)
    def exchanges(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    // one Exchange on top of whatever the documents scan brings
    counts.collect()
    assert(exchanges(counts).size == 1 + exchanges(docs).size)
    val written = exchanges(counts).head.metrics("shuffleRecordsWritten").value
    val perPartitionDistinct = docs
      .select(spark_partition_id().as("p"), explode(WordCount.tokenArray($"text")).as("word"))
      .groupBy("p", "word").count().count()
    assert(written > 0 && written <= perPartitionDistinct, s"$written > $perPartitionDistinct")
  }

  test("combiner: a table past its bound emits and restarts, and the sums stay exact") {
    def word(i: Int): String =
      Iterator.iterate(i)(_ / 26).takeWhile(_ > 0).map(d => ('a' + d % 26).toChar).mkString + "q"
    val distinct = 2 * WordCount.MaxWords + 17
    val words = (1 to distinct).map(word) ++ (1 to 5000).map(i => word(i % 300 + 1))
    // short lines, one line holding more distinct words than the bound, and
    // one line of long words holding more key chars than the table keeps
    val lines = words.grouped(50).map(_.mkString(" ")).toSeq :+
      words.reverse.take(WordCount.MaxWords + 5).map(_.toUpperCase(Locale.ROOT)).mkString(" ") :+
      (1 to 300).map(word(_) * 10000).mkString(" ")
    val want = lines.flatMap(_.toLowerCase(Locale.ROOT).split(" ")).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(want.size == distinct + 300)
    val out = WordCount.combine(lines.iterator).toSeq
    assert(out.size > want.size, "the table never reached its bound")
    assert(out.groupMapReduce(_._1)(_._2)(_ + _) == want)
  }

  test("tokenGrams: word n-grams match Scala's sliding join, array_distinct keeps first order") {
    val vocab = Seq("don't", "the", "cat's", "the", "o'", "cat's", "the")
    val rows = for (n <- 1 to 4; len <- n to n + 3) yield (n, vocab.take(len))
    val df = rows.toDF("n", "w")
    for (n <- 1 to 4) {
      val got = df.filter($"n" === n)
        .select($"w", WordCount.tokenGrams($"w", n).as("g"),
          array_distinct(WordCount.tokenGrams($"w", n)).as("d"))
        .as[(Seq[String], Seq[String], Seq[String])].collect()
      assert(got.length == 4)
      got.foreach { case (w, g, d) =>
        val want = w.sliding(n).map(_.mkString(" ")).toSeq
        assert(g == want, s"n=$n w=$w")
        assert(d == want.distinct, s"n=$n w=$w")
      }
    }
    // repeated grams survive in the plain form and collapse in the distinct one
    val (g, d) = Seq(Seq("a", "b", "a", "b", "a")).toDF("w")
      .select(WordCount.tokenGrams($"w", 2), array_distinct(WordCount.tokenGrams($"w", 2)))
      .as[(Seq[String], Seq[String])].head()
    assert(g == Seq("a b", "b a", "a b", "b a") && d == Seq("a b", "b a"))
  }
}
