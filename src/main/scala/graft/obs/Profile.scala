package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Rows one physical operator of a SQL execution output: its
  * `numOutputRows` metric in the execution's final (adaptive) plan, or
  * -1 for an operator that does not count them (a sort, an exchange).
  * Spark counts every pass over an operator: the sampling pass of a
  * global sort's range partitioning counts the rows below it twice. */
final case class OpRows(execution: Long, op: String, rows: Long)

/** What one closed span measured. The counters cover the Spark jobs run
  * under the span's job group and none of its children's; `operators`
  * lists the physical operators of each SQL execution the span ran,
  * top-down (the plan's root first), in the order the executions ended.
  * Code-generation and query-stage wrappers are left out. */
final case class Span(
    id: Long,
    name: String,
    parent: Long,
    startNs: Long,
    endNs: Long,
    jobs: Long,
    tasks: Long,
    cpuNs: Long,
    waitMs: Long,
    inputBytes: Long,
    inputRecords: Long,
    shuffleBytes: Long,
    spillBytes: Long,
    operators: Seq[OpRows],
    children: Seq[Span]) {
  /** The Spark job group the span's jobs ran under. */
  def jobGroup: String = Profile.groupOf(id)

  def seconds: Double = (endNs - startNs) / 1e9

  /** Duration minus the children's: they ran on this thread, so they
    * never overlap. */
  def selfSeconds: Double = seconds - children.map(_.seconds).sum

  /** Rows the root operator of the span's last SQL execution output, or
    * -1 when it ran none or its root does not count them. */
  def rowsOut: Long = operators.lastOption
    .flatMap(last => operators.find(_.execution == last.execution))
    .fold(-1L)(_.rows)

  def json: String = {
    val ops = operators.map(o =>
      s"""{"execution":${o.execution},"op":${Profile.quote(o.op)},"rows":${o.rows}}""")
    s"""{"id":$id,"name":${Profile.quote(name)},"parent":$parent,""" +
      s""""start_ns":$startNs,"end_ns":$endNs,"s":$seconds,"self_s":$selfSeconds,""" +
      s""""jobs":$jobs,"tasks":$tasks,"cpu_s":${cpuNs / 1e9},"wait_s":${waitMs / 1e3},""" +
      s""""input_bytes":$inputBytes,"input_records":$inputRecords,""" +
      s""""shuffle_bytes":$shuffleBytes,"spill_bytes":$spillBytes,"rows_out":$rowsOut,""" +
      s""""operators":[${ops.mkString(",")}],""" +
      s""""children":[${children.map(_.json).mkString(",")}]}"""
  }
}

/** A value and the span its computation ran in. */
final case class Profiled[T](value: T, span: Span)

/** The engine's one span facility. [[run]] runs a body as a span: the
  * span is the thread's Spark job group while the body runs, so a
  * listener charges every job of the body (and of the threads it starts
  * with the caller's local properties) to the innermost open span. The
  * listener is registered only while some span is open, and a span
  * closes by draining the listener bus, so profiling starts no Spark job
  * of its own.
  */
object Profile {
  // the local properties SparkContext.setJobGroup sets
  private val GroupKey = "spark.jobGroup.id"
  private val GroupProps =
    Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")

  private val nextId = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Open]](() => Nil)
  private var charger: Charger = null
  private var openSpans = 0

  private final class Open(val id: Long, val name: String, val parent: Long) {
    val group = groupOf(id)
    val start = System.nanoTime()
    val jobs, tasks, cpuNs, waitMs, inputBytes, inputRecords, shuffleBytes,
      spillBytes = new AtomicLong
    val operators = new ConcurrentLinkedQueue[OpRows]
    val children = mutable.ArrayBuffer.empty[Span]

    def close(end: Long): Span = Span(id, name, parent, start, end, jobs.get,
      tasks.get, cpuNs.get, waitMs.get, inputBytes.get, inputRecords.get,
      shuffleBytes.get, spillBytes.get, operators.asScala.toList,
      children.toList)
  }

  /** Charges jobs, tasks and SQL executions to the open span whose job
    * group they ran under. */
  private final class Charger extends SparkListener with AdaptiveSparkPlanHelper {
    val byGroup = new ConcurrentHashMap[String, Open]()
    private val byStage = new ConcurrentHashMap[Int, Open]()
    private val submitted = new ConcurrentHashMap[Int, java.lang.Long]()
    private val byExecution = new ConcurrentHashMap[Long, Open]()

    private def openOf(group: Option[String]): Option[Open] =
      group.flatMap(g => Option(byGroup.get(g)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      openOf(Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))))
        .foreach { o =>
          o.jobs.incrementAndGet()
          e.stageIds.foreach(byStage.put(_, o))
        }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        submitted.put(e.stageInfo.stageId, t))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).filter(_ => e.taskInfo != null).foreach { o =>
        o.tasks.incrementAndGet()
        Option(submitted.get(e.stageId)).foreach(t =>
          o.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t)))
        Option(e.taskMetrics).foreach { m =>
          o.cpuNs.addAndGet(m.executorCpuTime)
          o.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          o.inputRecords.addAndGet(m.inputMetrics.recordsRead)
          o.shuffleBytes.addAndGet(
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          o.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        openOf(s.jobGroupId).foreach(byExecution.put(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        for {
          o <- Option(byExecution.remove(end.executionId))
          qe <- GraftBridge.queryExecution(end)
        } foreach(qe.executedPlan) {
          case _: AdaptiveSparkPlanExec | _: QueryStageExec |
              _: WholeStageCodegenExec | _: InputAdapter =>
          case p => o.operators.add(OpRows(end.executionId, p.nodeName.trim,
            p.metrics.get("numOutputRows").fold(-1L)(_.value)))
        }
      case _ =>
    }
  }

  private def acquire(sc: SparkContext): Charger = synchronized {
    if (openSpans == 0) {
      charger = new Charger
      sc.addSparkListener(charger)
    }
    openSpans += 1
    charger
  }

  private def release(sc: SparkContext): Unit = synchronized {
    openSpans -= 1
    if (openSpans == 0) {
      sc.removeSparkListener(charger)
      charger = null
    }
  }

  /** Runs `body` as a span named `name` and returns its value with what
    * the span measured. Spans nest: a span opened inside `body` on the
    * same thread is a child, its jobs are charged to it alone, and its
    * closed report is in this span's `children`. The caller's job group
    * is restored on exit, and an exception from `body` propagates with
    * no report. */
  def run[T](spark: SparkSession, name: String)(body: => T): Profiled[T] = {
    val sc = spark.sparkContext
    val c = acquire(sc)
    val parent = stack.get.headOption
    val o = new Open(nextId.getAndIncrement(), name, parent.fold(0L)(_.id))
    c.byGroup.put(o.group, o)
    val saved = GroupProps.map(k => k -> sc.getLocalProperty(k))
    try {
      stack.set(o :: stack.get)
      sc.setJobGroup(o.group, name, interruptOnCancel = false)
      val value =
        try body
        finally {
          saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          stack.set(stack.get.tail)
        }
      val end = System.nanoTime()
      GraftBridge.drainListeners(sc)
      val span = o.close(end)
      parent.foreach(_.children += span)
      Profiled(value, span)
    } finally {
      c.byGroup.remove(o.group)
      release(sc)
    }
  }

  private[obs] def groupOf(id: Long): String = s"graft-profile-$id"

  private[graft] def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
}
