package graftbench

import org.apache.spark.sql.Row

/** Order statistics and output fingerprints. */
object Stats {

  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(x max 1e-9)).sum / xs.size)

  /** Canonical text of one value: doubles rounded to six significant
    * digits (partial sums may differ in the last bits between runs),
    * collections element-wise, maps by key.
    */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6g"
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive content hash of a result: columns by name, rows
    * canonicalised and sorted, SHA-256 over the lines (first 16 hex).
    */
  def contentHash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
