package perfbench

import scala.collection.mutable

/** What one run hands back: error accounting, named metrics with units,
  * and free-form info (percentiles chosen, baseline). */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String] // raw JSON values

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
  def note(name: String, json: String): Unit = info(name) = json

  /** Count one checked operation; `ok=false` counts it as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (errors.size < 20) errors += what
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  import Report.str
  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")

  def json: String =
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""errors":${errors.map(str).mkString("[", ",", "]")},""" +
      s""""end_to_end":${metrics(endToEnd)},"per_layer":${metrics(perLayer)},""" +
      s""""info":${info.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")}}"""
}

object Report {
  /** A JSON string literal. */
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
