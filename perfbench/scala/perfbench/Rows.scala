package perfbench

import java.math.{MathContext, RoundingMode}

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive row comparison. Doubles are rounded to
  * 9 significant digits so a different summation order (partitioning,
  * epoch layout) does not read as a different answer. */
object Rows {
  private val Mc = new MathContext(9, RoundingMode.HALF_EVEN)

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new java.math.BigDecimal(d).round(Mc).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def sortedLines(df: DataFrame): Seq[String] =
    df.collect().map(r => canon(r)).sorted.toSeq

  def compare(got: DataFrame, want: DataFrame): Option[String] = {
    val g = sortedLines(got)
    val w = sortedLines(want)
    if (g == w) None
    else Some(s"${g.size} rows vs ${w.size} expected; first difference " +
      g.zipAll(w, "<none>", "<none>").find { case (a, b) => a != b }.getOrElse(""))
  }
}
