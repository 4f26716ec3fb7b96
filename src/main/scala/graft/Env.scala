package graft

/** Environment knobs of the command-line mains (Bench, Verify, Shell,
  * Profile, AnnBench). The library packages read no environment: an
  * entry point turns these into builder arguments. */
object Env {
  /** A numeric knob; a value that does not parse fails with an error
    * naming the key. */
  def num[T](key: String, default: String)(parse: String => T): T = {
    val raw = sys.env.getOrElse(key, default)
    try parse(raw.trim)
    catch { case e: NumberFormatException =>
      throw new IllegalArgumentException(s"$key='$raw' is not a number", e) }
  }
}
