package graft.perfbench

import scala.collection.mutable

/** What one run found: the output checks, the attempted/failed counts,
  * the end-to-end metrics (untraced run), the per-layer metrics (traced
  * run) and a detail object of diagnostics.
  */
final class Report {
  private val problems = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val detail = mutable.LinkedHashMap[String, Any]()

  /** Records a failed output check (the run is then not correct). */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized { problems += what; () }

  def correct: Boolean = synchronized(problems.isEmpty)

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)

  def toJson(trace: Boolean): String = {
    val ms = if (trace) layers else metrics
    Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(ms.toSeq.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*),
      "detail" -> (detail ++ Seq("problems" -> synchronized(problems.toList)))))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
