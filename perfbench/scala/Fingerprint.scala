package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Row count plus an order-insensitive content hash of a result.
  *
  * Each row renders to one canonical string (columns in name order,
  * floating values with `-0.0` folded into `0.0`), is hashed with MD5,
  * and the first eight digest bytes are summed modulo 2^64. A sum does
  * not depend on row order or partitioning, and a duplicated row
  * changes it. The column names and types enter the hash too, so a
  * renamed or retyped column is a different result.
  */
final case class Fingerprint(rows: Long, hash: String) {
  def render: String = s"$rows:$hash"
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    var sum = md5Long(fields.map { case (f, _) =>
      s"${f.name}:${f.dataType.simpleString}" }.mkString(","))
    var n = 0L
    df.collect().foreach { r =>
      sum += md5Long(fields.map { case (_, i) => value(r.get(i)) }
        .mkString("\u0001"))
      n += 1
    }
    Fingerprint(n, f"$sum%016x")
  }

  def md5Long(s: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  private def value(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d + 0.0)
    case f: Float => java.lang.Float.toString(f + 0.0f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => value(r.get(i)))
      .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${value(k)}=${value(x)}" }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }
}
