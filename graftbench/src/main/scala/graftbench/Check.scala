package graftbench

import org.apache.spark.sql.Row

/**
 * Result comparison for the output checks. Two engines (or two plans)
 * summing the same doubles in a different order agree only to rounding,
 * so doubles compare within a relative tolerance; every other value
 * compares exactly. Row order is not part of a result.
 */
object Check {

  /** A collected result: column names and rows. */
  final case class Result(columns: Seq[String], rows: Seq[Row]) {
    lazy val canonical: Seq[Seq[Any]] = rows.map(r => r.toSeq.map(norm)).sortBy(sortKey)
  }

  private def norm(v: Any): Any = v match {
    case f: Float => f.toDouble
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k=${norm(x)}" }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case other => other
  }

  private def sortKey(r: Seq[Any]): String = r.map {
    case d: Double => if (d.isNaN) "NaN" else f"$d%.8g"
    case null => "null"
    case x => x.toString
  }.mkString("\u0001")

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** None when the results agree, else the first difference. */
  def diff(got: Result, want: Result): Option[String] =
    if (got.columns != want.columns) Some(s"columns ${got.columns} != ${want.columns}")
    else if (got.rows.size != want.rows.size) Some(s"${got.rows.size} rows != ${want.rows.size}")
    else got.canonical.zip(want.canonical).zipWithIndex.collectFirst {
      case ((g, w), i) if g.size != w.size || g.zip(w).exists {
        case (x: Double, y: Double) => !close(x, y)
        case (x, y) => x != y
      } => s"row $i: $g != $w"
    }
}
