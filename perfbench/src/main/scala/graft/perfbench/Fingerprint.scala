package graft.perfbench

import org.apache.spark.sql.{Dataset, Row}
import scala.util.hashing.MurmurHash3

/** Row count plus an order-independent hash over every column of a result.
  *
  * Columns are taken in name order and each row is rendered to a canonical
  * string: doubles and floats to 9 significant digits (so a changed
  * summation order does not flip the hash), decimals without trailing
  * zeros, maps with sorted entries. The hash is the sum of 64-bit row
  * hashes, so row order does not matter and duplicates still count. */
object Fingerprint {
  def of(result: Any): (Long, String) = result match {
    case ds: Dataset[_] =>
      val df = ds.toDF()
      val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
      val rows = df.collect()
      var sum = 0L
      rows.foreach(r => sum += hash64(order.map(i => canon(r.get(i))).mkString("|")))
      (rows.length.toLong, f"$sum%016x")
    case n: Long => (1L, f"${hash64(n.toString)}%016x")
    case other => throw new IllegalStateException(s"unexpected result $other")
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9g", java.lang.Double.valueOf(d))
}
