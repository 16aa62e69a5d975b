package graft.perfbench

/** Minimal JSON writing for the benchmark's record files. */
object Json {
  def str(s: String): String = graft.JsonOut.jstr(s)

  /** Full precision; JSON has no NaN or infinity, so those fail loudly. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    java.lang.Double.toString(d)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
