package graftbench

import java.math.{MathContext, RoundingMode}
import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order- and partition-insensitive digest of a DataFrame's full output.
  *
  * Every row is rendered canonically (floating values rounded to
  * [[SigDigits]] significant digits, map entries sorted), hashed to 64 bits,
  * and the hashes are summed modulo 2^64. A sum is a multiset hash: row
  * order and partitioning do not change it, duplicate rows do. The schema's
  * names and types and the row count are part of the digest.
  */
object Digest {
  val SigDigits = 9
  private val mc = new MathContext(SigDigits, RoundingMode.HALF_EVEN)

  final case class Result(rows: Long, hash: String)

  def of(df: DataFrame): Result = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")
    val (rows, sum) = df.rdd.mapPartitions { it =>
      val sb = new java.lang.StringBuilder
      var n = 0L
      var h = 0L
      it.foreach { row =>
        sb.setLength(0)
        canon(row, sb)
        h += hash64(sb.toString)
        n += 1
      }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    Result(rows, f"${MurmurHash3.stringHash(schema)}%08x$sum%016x")
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  private def number(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d)
    else if (d == 0.0) sb.append('0')
    else sb.append(new java.math.BigDecimal(d).round(mc).stripTrailingZeros().toString)

  private[graftbench] def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null                 => sb.append('∅')
    case d: Double            => number(d, sb)
    case f: Float             => number(f.toDouble, sb)
    case b: java.math.BigDecimal => sb.append(b.stripTrailingZeros().toPlainString)
    case b: Array[Byte]       => b.foreach(x => sb.append(f"$x%02x"))
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); canon(r.get(i), sb); i += 1 }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        canon(k, e); e.append("->"); canon(x, e); e.toString
      }.sorted
      sb.append('{').append(entries.mkString(",")).append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); canon(x, sb); first = false }
      sb.append(']')
    case s: String => sb.append('"').append(s.replace("\"", "\"\"")).append('"')
    case other     => sb.append(other.toString)
  }
}
