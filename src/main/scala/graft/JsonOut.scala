package graft

/** Shared helpers for the machine-readable JSON the mains emit — Bench's
  * result line, Main's summary line, Verify's oracle_sql.json — and the
  * perfbench records: locale-safe number formatting and string escaping.
  * One definition so a path with a quote/backslash or SQL with a control
  * character can't corrupt one surface while another stays safe. */
object JsonOut {

  // Locale.ROOT: the f-interpolator uses the default locale, and a
  // comma-decimal or non-ASCII-digit locale would corrupt the JSON line
  def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** JSON string escape for interpolated values (paths can contain quotes). */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
