package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one benchmark run shares across its workload: the session, the
  * tracer, the counts of attempted and failed operations, and the metrics
  * it reports. */
final class Run(
    val spark: SparkSession,
    val tracer: Tracer,
    val work: File,
    val seed: Long,
    val tiny: Boolean) {
  var attempted = 0L
  var failed = 0L
  /** Metrics by name: value and unit. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Wall time of each traced operation next to the same operation run
    * untraced, for the tracing overhead. */
  val pairs = mutable.ArrayBuffer.empty[(Double, Double)]

  /** Runs `body` once untraced and once traced when tracing (in an order
    * that alternates with `i`), and returns the untraced result and wall
    * time; the traced wall time goes to the overhead pairs. Without
    * tracing, `body` runs once. */
  def timedPair[T](i: Long)(body: => T): (T, Double) =
    if (!tracer.on) Stats.time(body)
    else {
      def traced = Stats.time(tracer.span("op")(body))._2
      val first = if (i % 2 == 0) Some(traced) else None
      val plain = tracer.paused(Stats.time(body))
      val second = first.getOrElse(traced)
      pairs += ((second, plain._2))
      plain
    }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** One operation of the timed phase. `body` times its own calls and
    * returns whether its outputs passed their checks; a throw counts as
    * a failure too. */
  def op(what: String)(body: => Boolean): Unit = {
    attempted += 1
    tracer.beginOp()
    val ok =
      try body
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: $what threw: $e")
          false
      }
    if (!ok) failed += 1
  }

  /** A check on an output, outside any timed region. Failures are
    * reported on stderr and counted by the enclosing [[op]]. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) System.err.println(s"perfbench: check failed: $what $detail")
    ok
  }

  /** Runs a DataFrame to the end through the `noop` sink: every row is
    * produced, none is kept. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dir(name: String): File = {
    val d = new File(work, name)
    Store.deleteTree(d)
    d.getParentFile.mkdirs()
    d
  }

  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
