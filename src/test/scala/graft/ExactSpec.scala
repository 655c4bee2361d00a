package graft

import java.security.MessageDigest

import graft.functions.Exact._
import org.apache.spark.sql.functions._

/** The engine-portable integer conventions of [[graft.functions.Exact]],
  * each pinned against a plain-Scala reference on edge values. */
class ExactSpec extends SparkSpec {
  import spark.implicits._

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("signed division truncates toward zero, on both signs and past BIGINT") {
    val xs = Seq(-7L, -1L, 0L, 1L, 7L)
    def run(sql: String) =
      spark.sql(s"SELECT x, CAST($sql AS BIGINT) AS q FROM VALUES " +
        xs.map(x => s"($x)").mkString(", ") + " AS t(x) ORDER BY x")
        .as[(Long, Long)].collect().toSeq
    // BigInt division truncates toward zero; floor would give −2334 at −7
    assert(run(signedDivSql("x", "3", 1000)) == xs.map(x => x -> (BigInt(1000) * x / 3).toLong))
    assert(run(signedDivSql("x", "3", 1000, negate = true)) ==
      xs.map(x => x -> (-(BigInt(1000) * x) / 3).toLong))
    assert(run(signedDivSql("x", "3")) == xs.map(x => x -> (BigInt(1000000) * x / 3).toLong))
    // a DECIMAL(38,0) numerator beyond 2⁶³ (the lifted-sum form)
    val big = BigInt(2).pow(63) + 5
    Seq(big, -big).foreach { n =>
      val q = spark.sql(s"SELECT CAST(${signedDivSql("n", "1000", 100)} AS BIGINT) AS q " +
        s"FROM (SELECT CAST('$n' AS DECIMAL(38,0)) AS n)").as[Long].head()
      assert(BigInt(q) == BigInt(100) * n / 1000, n)
    }
  }

  test("ln ladder: floor(ln(x)·10⁴ + 0.5), Column and SQL twins agree") {
    val xs = Seq(1L, 2L, 10L, 1000000L)
    val expected = xs.map(x => math.floor(math.log(x.toDouble) * 10000.0 + 0.5).toLong)
    assert(expected == Seq(0L, 6931L, 23026L, 138155L))
    val df = xs.toDF("x")
    assert(df.select(ln4(col("x")).cast("long")).as[Long].collect().toSeq == expected)
    assert(df.select(expr(ln4Sql("x"))).as[Long].collect().toSeq == expected)
  }

  test("md5 draws: nibble, bucket, split and 20-bit uniform match MessageDigest") {
    val ids = Seq(0L, 1L, 7L, 42L, 123456789L)
    val hexes = ids.map(id => md5Hex(id.toString))
    assert(hexes.exists(h => h(0) >= 'a') && hexes.exists(h => h(0) <= '9'),
      "both ascii branches of the nibble are exercised")
    val docs = ids.toDF("doc_id")
    val got = docs.select(
      array((0 until 32).map(i => hexNibble(md5(col("doc_id").cast("string")), i)): _*),
      array((0 until 32).map(md5Nibble(_)): _*),
      md5Bucket(), splitOf(), md5U20)
      .as[(Seq[Int], Seq[Int], Long, String, Long)].collect().toSeq
    got.zip(hexes).foreach { case ((hexNib, md5Nib, bucket, split, u20), hex) =>
      val nibbles = hex.map(c => Integer.parseInt(c.toString, 16))
      assert(hexNib == nibbles && md5Nib == nibbles, hex)
      val b = Integer.parseInt(hex.take(2), 16)
      assert(bucket == b, hex)
      assert(split == (if (b < 204) "train" else if (b < 230) "val" else "test"), hex)
      assert(u20 == Integer.parseInt(hex.take(5), 16), hex)
    }
  }
}
