package e2ebench

import scala.jdk.CollectionConverters._

/** Just enough JSON for the run's result file and the expected counts. */
object Json {
  final case class Raw(json: String)
  def raw(json: String): Raw = Raw(json)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** An object from ordered pairs; a `Raw` value is inlined, else quoted. */
  def obj(fields: Seq[(String, Any)]): String =
    fields.map {
      case (k, Raw(j)) => str(k) + ":" + j
      case (k, v) => str(k) + ":" + str(v.toString)
    }.mkString("{", ",", "}")

  def readCounts(path: String): Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    node.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }
}
