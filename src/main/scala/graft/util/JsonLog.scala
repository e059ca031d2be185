package graft.util

/** F6 — the reference's structured-logging contract: every step emits a
  * `{"severity": ..., "message": ...}` JSON line (e.g.
  * `/root/reference/main.py:37-40`, `data_transform.py:18-21`). In a
  * cluster deployment this routes to the log4j2 JSON layout; here it is a
  * tiny driver-side emitter used by the pipeline for run events.
  */
object JsonLog {
  /** JSON string-body escaping for the log lines below: a message can
    * carry arbitrary text (exception messages, paths, corpus-derived
    * values) with `"` or `\`, and an unescaped one breaks every JSON-line
    * parser downstream. Surrogates are \u-escaped so a lone surrogate
    * (char-level BPE on supplementary-plane text) still yields parseable
    * ASCII output.
    */
  private def esc(s: String): String =
    s.flatMap {
      case '"'                     => "\\\""
      case '\\'                    => "\\\\"
      case '\n'                    => "\\n"
      case '\r'                    => "\\r"
      case '\t'                    => "\\t"
      case c if c < ' '            => f"\\u${c.toInt}%04x"
      case c if Character.isSurrogate(c) => f"\\u${c.toInt}%04x"
      case c                       => c.toString
    }

  def line(severity: String, message: String): String =
    s"""{"severity": "${esc(severity)}", "message": "${esc(message)}"}"""

  def info(message: String): Unit = System.out.println(line("INFO", message))
  def warning(message: String): Unit = System.out.println(line("WARNING", message))
  def error(message: String): Unit = System.err.println(line("ERROR", message))
  /** Setup-level failure (`/root/reference/main.py:119-122`). */
  def critical(message: String): Unit = System.err.println(line("CRITICAL", message))
}
