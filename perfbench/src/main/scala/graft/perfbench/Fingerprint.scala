package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Order-independent result fingerprint: `rows:hash`, where hash is the
  * wrapping 64-bit sum of one hash per row. Each row is rendered field
  * by field with doubles and floats cut to 6 significant digits, so a
  * last-bit difference from a different summation order does not count
  * as a different result. Collecting the rows is the operation's
  * terminal action. */
object Fingerprint {

  def of(df: DataFrame): String = of(df.collect())

  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = render(r)
      val hi = MurmurHash3.stringHash(s, 0x5bd1e995).toLong
      val lo = MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL
      sum += (hi << 32) | lo
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => num(d.doubleValue)
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
}
