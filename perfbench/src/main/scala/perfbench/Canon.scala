package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical content hash of a query result, insensitive to column order
  * and row order: columns sorted by name, rows sorted, floats rounded to
  * six significant digits with magnitudes under 1e-9 read as zero (the
  * absolute tolerance the oracle comparison allows). Rounding this coarse
  * keeps last-bit differences in floating-point summation order from
  * flipping a digit. */
object Canon {
  final case class Digest(rows: Long, hash: String)

  def of(df: DataFrame): Digest = of(df.columns.toSeq, df.collect().toSeq)

  def of(columns: Seq[String], rows: Seq[Row]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString("\u0001").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    Digest(rows.size.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
