package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive content hash of a result, for output checks.
  *
  * Columns are taken in name order, doubles rounded to 9 significant
  * digits (partial-aggregate order may move the last bits between plans of
  * the same query), and array elements compared as a multiset. The hash is
  * the sum of 64-bit row hashes, so row order never matters.
  */
object Check {

  case class Digest(rows: Long, hash: String)

  def digest(df: DataFrame): Digest = digestRows(collect(df))

  /** Every row, columns in name order. */
  def collect(df: DataFrame): Seq[Row] =
    df.select(df.columns.toSeq.sorted.map(df.col): _*).collect().toSeq

  def digestRows(rows: Seq[Row]): Digest = {
    val sum = rows.foldLeft(0L)((acc, r) => acc + rowHash(render(r)))
    Digest(rows.size.toLong, f"$sum%016x")
  }

  private def rowHash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5be0cd19).toLong & 0xffffffffL)

  private val mc = new java.math.MathContext(9)

  def render(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0" // -0.0 and 0.0 are one value
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).sorted.mkString("[", ",", "]")
    case other => other.toString
  }
}
