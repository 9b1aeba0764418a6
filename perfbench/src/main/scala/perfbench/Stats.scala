package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Pure arithmetic of the harness: medians, the tail rule,
  * span self time and the order-insensitive result fingerprint. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The reported tail: each pass's slowest operation, the median of
    * those over the passes. It is the same statistic whatever the
    * number of passes, so a faster pass that fits one more pass into
    * the run does not move it to another percentile. */
  def tail(passes: Seq[Seq[Double]]): Double =
    median(passes.filter(_.nonEmpty).map(_.max))

  /** Self time of every interval: its duration minus the union of its
    * children's intervals (clipped to the parent), so overlapping
    * children are not subtracted twice. Intervals are
    * (id, parent, start, end); parent 0 is the root. */
  def selfTimes(spans: Seq[(Long, Long, Long, Long)]): Map[Long, Long] = {
    val byParent = spans.groupBy(_._2)
    spans.map { case (id, _, start, end) =>
      val kids = byParent.getOrElse(id, Nil)
        .map { case (_, _, s, e) => (math.max(s, start), math.min(e, end)) }
        .filter { case (s, e) => e > s }
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      id -> ((end - start) - covered)
    }.toMap
  }

  /** Canonical text of one value: floats rounded to 4 decimals (so the
    * last-bit noise of a re-associated sum cannot change the print),
    * timestamps as epoch micros, nested values recursively, map entries
    * sorted. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => canonDouble(b.doubleValue)
    case t: java.sql.Timestamp =>
      s"ts:${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case i: java.time.Instant => s"ts:${i.getEpochSecond * 1000000 + i.getNano / 1000}"
    case d: java.sql.Date => d.toLocalDate.toString
    case bs: Array[Byte] => bs.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case o => o.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = java.math.BigDecimal.valueOf(d)
        .setScale(4, java.math.RoundingMode.HALF_UP)
      if (r.signum == 0) "0.0000" else r.toPlainString
    }

  /** Row count and an order-insensitive SHA-256 fingerprint of rows
    * whose columns are given by name: columns sorted by name, each row
    * canonicalized, rows sorted. Neither column order nor row order
    * changes it. */
  def fingerprint(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val header = columns.sorted.mkString("|")
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (rows.size.toLong, md.digest().map("%02x".format(_)).mkString.take(32))
  }

  def fingerprint(df: DataFrame): (Long, String) =
    fingerprint(df.columns.toSeq, df.collect().toSeq)
}
