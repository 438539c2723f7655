package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The metrics a run prints in its result line, by name and unit. */
object Spec {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "bytes_per_item" -> "B",
    "heap_retained_mb" -> "MB")

  /** Spans that record Spark work, and what each records. */
  val WorkSpans: Seq[String] =
    Seq("select", "discover", "rate", "agg", "match", "subquery").map("tsdb.exec." + _) ++
      Seq("tsdb.ingest", "tsdb.normalize", "tsdb.meta") ++
      Seq("exact", "minhash_clusters", "quality", "byte_histogram").map("operators." + _)
  val WorkFields: Seq[(String, String)] = Seq(
    "s" -> "s", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "wait_s" -> "s", "input_bytes" -> "B", "shuffle_bytes" -> "B", "spill_bytes" -> "B")

  val PerLayer: Seq[(String, String)] =
    Seq("promql.parse.s" -> "s", "promql.build.s" -> "s", "promql.build.jobs" -> "count",
      "plans.plan.s" -> "s") ++
      (for (s <- WorkSpans; (f, u) <- WorkFields) yield s"$s.$f" -> u) ++
      WorkSpans.take(6).map(s => s"$s.rows_in_per_row_out" -> "ratio") ++
      Seq("tsdb.ingest.files_per_batch" -> "count",
        "tsdb.ingest.fact_bytes_per_point" -> "B/point",
        "tsdb.ingest.meta_bytes_per_point" -> "B/point",
        "tsdb.ingest.label_values_bytes_per_point" -> "B/point",
        "jvm.gc_s" -> "s", "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio")
}

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: File, tiny: Boolean)

object Main {
  def parse(a: Seq[String]): Args = {
    val kv = a.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), kv.get("scale").contains("tiny"))
  }

  def session(work: File): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    SparkSession.builder
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      // keep the status store small so retained heap reflects the engine
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after a full GC; the least of three, since a collection
    * can finish while Spark's background threads still hold garbage. */
  def heapRetainedMb: Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Per-layer values: the median over the spans of each name. */
  def layers(run: Run): Unit = {
    val spans = run.tracer.all.groupBy(_.name)
    def med(name: String)(f: Span => Double): Double =
      spans.get(name).map(ss => Stats.median(ss.map(f))).getOrElse(0.0)
    for (n <- Seq("promql.parse", "promql.build", "plans.plan"))
      run.put(s"$n.s", med(n)(_.seconds), "s")
    run.put("promql.build.jobs", med("promql.build")(_.counters.jobs.get.toDouble), "count")
    for (n <- Spec.WorkSpans) {
      def c(f: SpanCounters => Long): Span => Double = s => f(s.counters).toDouble
      run.put(s"$n.s", med(n)(_.seconds), "s")
      run.put(s"$n.jobs", med(n)(c(_.jobs.get)), "count")
      run.put(s"$n.tasks", med(n)(c(_.tasks.get)), "count")
      run.put(s"$n.cpu_s", med(n)(c(_.cpuNs.get)) / 1e9, "s")
      run.put(s"$n.wait_s", med(n)(c(_.waitMs.get)) / 1e3, "s")
      run.put(s"$n.input_bytes", med(n)(c(_.inputBytes.get)), "B")
      run.put(s"$n.shuffle_bytes", med(n)(c(_.shuffleBytes.get)), "B")
      run.put(s"$n.spill_bytes", med(n)(c(_.spillBytes.get)), "B")
    }
    for (n <- Spec.WorkSpans.take(6))
      run.put(s"$n.rows_in_per_row_out",
        med(n)(s => s.counters.inputRecords.get.toDouble / math.max(1L, s.rowsOut)), "ratio")
    if (run.pairs.nonEmpty) {
      run.put("trace.overhead_s", Stats.median(run.pairs.map { case (t, u) => t - u }.toSeq), "s")
      run.put("trace.overhead_ratio",
        Stats.median(run.pairs.map { case (t, u) => t / u - 1 }.toSeq), "ratio")
    }
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    a.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, new Tracer(spark.sparkContext, a.trace), a.work, a.seed, a.tiny)
    val w: Workload = a.workload match {
      case "live" => new Live(run)
      case "corpus" => new CorpusJob(run)
      case other => sys.error(s"unknown workload $other")
    }
    val builds = (0 until 3).map(rep => Stats.time(w.build(rep))._2)
    val warmS = Stats.time(w.warmup())._2
    run.put("setup_s", sessionS + Stats.median(builds) + warmS, "s")

    val gc0 = gcSeconds
    w.timed(a.seconds)
    run.put("jvm.gc_s", gcSeconds - gc0, "s")
    w.report()
    run.put("heap_retained_mb", heapRetainedMb, "MB")
    run.put("error_rate", run.failed.toDouble / math.max(1L, run.attempted), "ratio")
    if (a.trace) {
      run.tracer.flush()
      layers(run)
      run.tracer.write(new File(a.work.getAbsoluteFile.getParentFile, s"spans-${a.workload}-${a.seed}.jsonl").toPath)
    }
    spark.stop()

    System.err.println(s"perfbench: ${a.workload} sizes " +
      w.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ") +
      f" session_s=$sessionS%.3f builds_s=${builds.map(b => f"$b%.3f").mkString(",")} warmup_s=$warmS%.3f")
    val names = if (a.trace) Spec.PerLayer else Spec.EndToEnd
    // a layer this workload does not exercise did no work
    for ((k, u) <- names if !run.metrics.contains(k)) run.put(k, 0.0, u)
    for ((k, (v, u)) <- run.metrics) println(s"metric $k ${fmt(v)} $u")
    val body = names.map { case (k, u) =>
      s""""$k": {"value": ${fmt(run.metrics(k)._1)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}""")
  }
}
