package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a query result, in the canonical
  * form of the repository's DuckDB check (scripts/check.py): columns
  * ordered by name, values rendered as text, row order ignored. Each
  * row, as its `name=value` pairs, hashes to 64 bits; the fingerprint is the row count plus the
  * wrapping sum of the row hashes, so it depends on the multiset of
  * rows and not on their order or partitioning. Doubles are rounded to
  * ten significant digits so that summation order inside Spark cannot
  * flip a last bit. */
object Fingerprint {

  def of(df: DataFrame): String = {
    val cols = columns(df.columns.toSeq)
    val (n, sum) = df.rdd
      .mapPartitions(rows => Iterator(ofRows(rows, cols)))
      .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    render(n, sum)
  }

  def render(n: Long, sum: Long): String = f"$n:$sum%016x"

  /** Column names in name order, each with its position in the row. */
  def columns(names: Seq[String]): Seq[(String, Int)] = names.zipWithIndex.sortBy(_._1)

  /** (row count, wrapping sum of row hashes) of some rows. */
  def ofRows(rows: Iterator[Row], cols: Seq[(String, Int)]): (Long, Long) = {
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      n += 1
      sum += rowHash(cols.map { case (c, i) => s"$c=${canon(r.get(i))}" }.mkString("\u0001"))
    }
    (n, sum)
  }

  def rowHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toString
}
