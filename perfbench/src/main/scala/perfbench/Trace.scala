package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters the listener attributes to one span, through the Spark job
  * group the span opened. */
final class SpanCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val waitMs = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

final case class Span(
    id: Long,
    name: String,
    parent: Long,
    op: Long,
    start: Long,
    var end: Long = 0L,
    var rowsOut: Long = -1L) {
  val counters = new SpanCounters
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the calls into each engine layer, kept in memory and
  * written out when the run ends. Each open span is also the client
  * thread's Spark job group, so the listener below can charge jobs,
  * stages and tasks to the innermost open span. With tracing off every
  * call is a plain pass-through: no listener, no job groups, no spans.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private var stack: List[Span] = Nil
  private var currentOp = 0L
  private var lastClosed: Option[Span] = None

  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  @volatile private var flushSeen = false
  private val FlushGroup = "perfbench-flush"
  // the local property SparkContext.setJobGroup sets
  private val JobGroupKey = "spark.jobGroup.id"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group: Option[String] = Option(e.properties)
        .flatMap(p => Option(p.getProperty(JobGroupKey)))
      group.flatMap(_.toLongOption).flatMap(id => Option(byId.get(id)))
        .foreach { s =>
          s.counters.jobs.incrementAndGet()
          e.stageIds.foreach(st => stageSpan.put(st, s))
        }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmitted.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskInfo != null) {
        val c = s.counters
        c.tasks.incrementAndGet()
        if (stageSubmitted.containsKey(e.stageId))
          c.waitMs.addAndGet(math.max(0L,
            e.taskInfo.launchTime - stageSubmitted.get(e.stageId)))
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
          c.shuffleBytes.addAndGet(
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  private var paused0 = false

  /** True while spans are being recorded. */
  def on: Boolean = enabled && !paused0

  /** Runs `body` without recording spans or setting job groups. */
  def paused[T](body: => T): T = {
    val was = paused0
    paused0 = true
    try body finally paused0 = was
  }

  /** Starts a new top-level operation: spans opened until the next call
    * share its id. */
  def beginOp(): Unit = currentOp += 1

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = Span(nextId.getAndIncrement(), name, parent, currentOp,
        System.nanoTime())
      byId.put(s.id, s)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        lastClosed = Some(s)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Records the rows the span that closed last handed back, for the
    * rows-read/rows-returned ratio of the storage read. */
  def rowsOut(n: Long): Unit = if (on) lastClosed.foreach(_.rowsOut = n)

  /** Waits until the listener bus has delivered every event of the jobs
    * run so far: a marker job is posted last, so its end implies all
    * earlier task-end events were seen. */
  def flush(): Unit = if (enabled) {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty(JobGroupKey)))
        if (g.contains(FlushGroup)) flushSeen = true
      }
    }
    sc.addSparkListener(l)
    flushSeen = false
    sc.setJobGroup(FlushGroup, FlushGroup, false)
    sc.parallelize(Seq(1), 1).collect()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    // both listeners sit on the same ordered queue: once the marker's
    // job start arrives, every earlier task end has been delivered
    while (!flushSeen && System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(l)
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover. Children never overlap (one client
    * thread), so the union is their sum. */
  def selfSeconds: Map[Long, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum
    }
    spans.map(s => s.id -> (s.end - s.start - childSum.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val self = selfSeconds
    val lines = spans.map { s =>
      val c = s.counters
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"s":${s.seconds},""" +
        s""""self_s":${self(s.id)},"jobs":${c.jobs.get},"tasks":${c.tasks.get},""" +
        s""""cpu_s":${c.cpuNs.get / 1e9},"wait_s":${c.waitMs.get / 1e3},""" +
        s""""input_bytes":${c.inputBytes.get},"input_records":${c.inputRecords.get},""" +
        s""""shuffle_bytes":${c.shuffleBytes.get},"spill_bytes":${c.spillBytes.get},""" +
        s""""rows_out":${s.rowsOut}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
