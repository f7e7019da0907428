package perfbench

/** Minimal JSON rendering for the result line and the span file, and
  * Jackson (shipped with Spark) for reading the generator's answers. */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** Locale-independent, full precision; non-finite values become null. */
  def num(v: Double): String =
    if (java.lang.Double.isFinite(v)) java.math.BigDecimal.valueOf(v).toPlainString else "null"

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
}
