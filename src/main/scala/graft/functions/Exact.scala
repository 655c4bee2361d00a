package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Engine-portable exact arithmetic helpers — the ONE plan-side home
  * of every integer convention the DuckDB hash gates rely on.
  *
  * The driver hash-compares query output against DuckDB, so every
  * aggregated numeric must be bit-identical across engines. Raw
  * `SUM(double)` is accumulation-order-dependent (Spark partial aggs run
  * in nondeterministic order), so money/quantity columns are cast to
  * DECIMAL(18,2) first — exact, order-independent — and the final value
  * is cast back to DOUBLE (a single deterministic IEEE conversion both
  * engines perform identically).
  *
  * Conventions owned here (a rounding-convention change must happen in
  * exactly one place or the cross-engine hash gates diverge silently):
  *  - exact-decimal sums and averages ([[dec2]], [[sumD]], [[avgD]],
  *    [[stddevD]], [[discPrice]]);
  *  - the quantized ln ladder floor(ln(x)·10⁴ + 0.5) ([[ln4]],
  *    [[ln4Sql]]);
  *  - the sign-split truncating division sign(x)·((k·|x|) div d)
  *    ([[signedDivSql]]);
  *  - md5 hex-nibble draws: one nibble ([[hexNibble]], [[md5Nibble]],
  *    [[nibSql]]), the 0–255 bucket ([[md5Bucket]]), the 8/1/1
  *    train/val/test split ([[splitOf]]) and the 20-bit uniform
  *    ([[md5U20]]).
  *
  * Oracle SQL is written independently of these helpers (it is the
  * reference the plans are checked against), except for two shared
  * literals: [[ln4Sql]], interpolated into plan `expr` strings and
  * oracle SQL alike, and [[nibSql]], the oracles' nibble, kept beside
  * its Column twin.
  */
object Exact {
  /** Cast a 2-decimal-valued double column to exact decimal. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact SUM of a 2-decimal double column, returned as double. */
  def sumD(c: Column): Column = sum(dec2(c)).cast("double")

  /** Exact SUM of an already-decimal expression, returned as double. */
  def sumExpr(e: Column): Column = sum(e).cast("double")

  /** Order-independent AVG: exact decimal sum / count, double division. */
  def avgD(c: Column): Column =
    sum(dec2(c)).cast("double") / count(c).cast("double")

  /** l_extendedprice * (1 - l_discount) in exact decimal. */
  def discPrice(price: Column, discount: Column): Column =
    dec2(price) * (lit(1).cast(DecimalType(18, 2)) - dec2(discount))

  /** Quantized natural log, floor(ln(x)·10⁴ + 0.5) as BIGINT — the ONE
    * definition of the engine-portable ln ladder (entropy/MI/PSI/
    * Kaplan–Meier/PMI all sum these as integers; summed raw doubles
    * would be partition-order-dependent). Oracle SQL mirrors the same
    * expression through [[ln4Sql]]. */
  def ln4(c: Column): Column =
    floor(log(c.cast("double")) * lit(10000.0) + lit(0.5))

  /** SQL-string twin of [[ln4]] — interpolate into BOTH the Spark
    * `expr(...)` string and the DuckDB oracle (the shared-literal
    * rule). */
  def ln4Sql(e: String): String =
    s"CAST(floor(ln(CAST(($e) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)"

  /** Sign-split truncating division as a Spark SQL fragment:
    * sign(num)·((scale·|num|) div den), i.e. scale·num / den truncated
    * toward zero — DuckDB's `//` floors, so both engines divide only
    * non-negative magnitudes. `negate` flips the sign (the result is
    * −scale·num / den). Callers wrap it in their own CAST … AS BIGINT
    * and zero/NULL guards; a DECIMAL(38,0) lift goes inside `num` or
    * `den` (the ×scale product is what overflows BIGINT first). */
  def signedDivSql(num: String, den: String, scale: Long = 1000000L,
      negate: Boolean = false): String =
    s"CASE WHEN ($num) ${if (negate) ">" else "<"} 0 THEN -1 ELSE 1 END * " +
      s"(($scale * abs($num)) div ($den))"

  /** Hex nibble `i` (0-based) of a lower-case hex string column as an
    * integer — ascii arithmetic, the oracles' [[nibSql]] twin. */
  def hexNibble(hex: Column, i: Int): Column = {
    val a = ascii(substring(hex, i + 1, 1))
    a - when(a >= 97, lit(87)).otherwise(lit(48))
  }

  /** Hex nibble `i` of md5(key) — the uniform-hash building block
    * behind every deterministic split/sampling decision. */
  def md5Nibble(i: Int, key: Column = col("doc_id")): Column =
    hexNibble(md5(key.cast("string")), i)

  /** DuckDB SQL twin of [[md5Nibble]] — the split/sampling oracles'
    * shared literal (DuckDB's VARCHAR cast; not Spark SQL). */
  def nibSql(i: Int, idCol: String = "doc_id"): String = {
    val a = s"ascii(substr(md5(CAST($idCol AS VARCHAR)), ${i + 1}, 1))"
    s"($a - CASE WHEN $a >= 97 THEN 87 ELSE 48 END)"
  }

  /** Uniform 0–255 md5 bucket of the key (two nibbles). */
  def md5Bucket(key: Column = col("doc_id")): Column =
    (md5Nibble(0, key) * 16 + md5Nibble(1, key)).cast("long")

  /** The deterministic 8/1/1 train/val/test label (204/26/26 of 256). */
  def splitOf(key: Column = col("doc_id")): Column = {
    val b = md5Bucket(key)
    when(b < 204, lit("train")).when(b < 230, lit("val")).otherwise(lit("test"))
  }

  /** 20-bit md5-uniform draw of doc_id: five hex nibbles, 0 … 2²⁰−1. */
  def md5U20: Column =
    (0 until 5).map(i => md5Nibble(i) * (1 << (4 * (4 - i))))
      .reduce(_ + _).cast("long")

  /** Sample stddev via exact decimal sums: sqrt((Σx² − (Σx)²/n)/(n−1)),
    * evaluated in double with a fixed operation order both engines share. */
  def stddevD(c: Column): Column = {
    val n = count(c).cast("double")
    val s = sum(dec2(c)).cast("double")
    val s2 = sum(dec2(c) * dec2(c)).cast("double")
    sqrt((s2 - s * s / n) / (n - lit(1.0)))
  }
}
