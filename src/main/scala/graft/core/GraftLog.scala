package graft.core

/** The one logger of graft's degraded paths, named `graft`: a corrupt
  * checkpoint, fold document or head manifest that a slower correct path
  * replaces, an optional maintenance step that failed without failing its
  * commit, or a catalog sync that serves a weaker view. Each report is one
  * WARN line of `key=value` fields, the first always `event=<name>`, so a
  * log pipeline can count and filter them without parsing prose. A value
  * holding whitespace, a quote or `=` is written in double quotes, with
  * `"` and `\` escaped and line breaks as `\n`, so a report stays on one
  * line. */
object GraftLog {

  private val log = org.slf4j.LoggerFactory.getLogger("graft")

  def warn(event: String, fields: (String, Any)*): Unit =
    if (log.isWarnEnabled) log.warn(line(event, fields))

  private def line(event: String, fields: Seq[(String, Any)]): String =
    (("event" -> event) +: fields).map { case (k, v) => s"$k=${quoted(String.valueOf(v))}" }
      .mkString(" ")

  private def quoted(v: String): String =
    if (v.nonEmpty && !v.exists(c => c.isWhitespace || c == '"' || c == '=')) v
    else "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\r", "\\r").replace("\n", "\\n") + "\""
}
