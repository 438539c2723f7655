package perfbench

/** One workload: set-up repetitions, a warm-up, the timed phase, and the
  * metrics it reports. */
trait Workload {
  /** Input sizes, recorded with the results. */
  def sizes: Map[String, Long]
  /** One set-up repetition: generate the inputs and build what the timed
    * phase reads. The last repetition's result is the one timed. */
  def build(rep: Int): Unit
  /** Untimed calls that let caches fill and code warm before timing. */
  def warmup(): Unit
  /** Closed loop, one client: whole operations (or fold periods) until
    * `seconds` of wall time have passed. */
  def timed(seconds: Double): Unit
  def report(): Unit
}
