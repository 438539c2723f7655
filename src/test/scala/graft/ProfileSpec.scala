package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.{Failure, Success}

import org.apache.spark.BusProbe
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.model.TsdbConf
import graft.obs.Profile
import graft.promql.PromQL

/** The engine's span facility against a plain listener on a small
  * `insertRows` store: a span counts the jobs and tasks Spark ran under
  * its job group, profiling runs no job of its own, no listener or job
  * group outlives a span, and nested spans split their jobs. Also the
  * `graft.tools.Profile` runner.
  */
class ProfileSpec extends SparkSuite {
  private val T0 = 1704412800L
  private val T1 = T0 + 3600L - 1
  private val rate = "sum by (l) (rate(m[300]))"

  /** Eight counter series (labels `l`, `zone`) scraped every 15 s over
    * `[from, until)`. */
  private def scrapes(from: Long, until: Long): DataFrame =
    spark.range(from, until, 15)
      .crossJoin(spark.range(8).withColumnRenamed("id", "s"))
      .select(lit("m").as("metric"),
        map(lit("l"), col("s").cast("string"),
          lit("zone"), (col("s") % 2).cast("string")).as("labels"),
        col("id").as("ts"),
        ((col("id") - T0) * (col("s") + 1)).cast("double").as("value"))

  private def twoBatchStore(): Tsdb = {
    val t = new Tsdb(spark, TsdbConf(dataPath = tempDir("profile")))
    t.insertRows(scrapes(T0, T0 + 1800))
    t.insertRows(scrapes(T0 + 1800, T1 + 1))
    t
  }

  private lazy val store = twoBatchStore()

  /** Jobs and tasks per job group, and every job start, as a plain
    * listener sees them. */
  private final class Seen extends SparkListener {
    val jobs = new ConcurrentHashMap[String, AtomicLong]()
    val tasks = new ConcurrentHashMap[String, AtomicLong]()
    val allJobs = new AtomicLong
    private val stageGroup = new ConcurrentHashMap[Int, String]()

    private def bump(m: ConcurrentHashMap[String, AtomicLong], g: String) =
      m.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      allJobs.incrementAndGet()
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        bump(jobs, g)
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach(bump(tasks, _))

    def of(m: ConcurrentHashMap[String, AtomicLong], g: String): Long =
      Option(m.get(g)).fold(0L)(_.get)
  }

  /** `body` with a plain listener registered, and what the listener saw
    * once the bus has delivered every event. */
  private def watched[A](body: => A): (A, Seen) = {
    val seen = new Seen
    val sc = spark.sparkContext
    sc.addSparkListener(seen)
    try {
      val a = body
      GraftBridge.drainListeners(sc)
      (a, seen)
    } finally sc.removeSparkListener(seen)
  }

  test("a span counts the jobs and tasks a plain listener sees in its job " +
      "group: a collected PromQL read and an insertRows batch") {
    val (read, seenRead) = watched(Profile.run(spark, rate)(
      PromQL.query(store, rate, T0, T1).collect()))
    val r = read.span
    assert(read.value.nonEmpty && r.jobs > 0 && r.tasks > 0, r.json)
    assert(r.jobs == seenRead.of(seenRead.jobs, r.jobGroup), r.json)
    assert(r.tasks == seenRead.of(seenRead.tasks, r.jobGroup), r.json)
    assert(seenRead.allJobs.get == r.jobs, r.json)

    val t = new Tsdb(spark, TsdbConf(dataPath = tempDir("profile_ingest")))
    t.insertRows(scrapes(T0, T0 + 1800))
    val (ingest, seenIngest) = watched(Profile.run(spark, "insertRows")(
      t.insertRows(scrapes(T0 + 1800, T1 + 1))))
    val i = ingest.span
    // the checkpoint, then the fact, meta and label-value writes, which
    // run on their own threads under the caller's job group
    assert(i.jobs >= 4 && i.tasks >= i.jobs, i.json)
    assert(i.jobs == seenIngest.of(seenIngest.jobs, i.jobGroup), i.json)
    assert(i.tasks == seenIngest.of(seenIngest.tasks, i.jobGroup), i.json)
    assert(seenIngest.allJobs.get == i.jobs, i.json)
  }

  test("profiling starts no Spark job, and leaves no listener or job " +
      "group behind") {
    store
    val sc = spark.sparkContext
    val before = BusProbe.listeners(sc)
    sc.setJobGroup("caller", "the caller's group", interruptOnCancel = true)
    try {
      val (p, seen) = watched(Profile.run(spark, rate) {
        val rows = PromQL.query(store, rate, T0, T1).collect()
        (rows, BusProbe.listeners(sc))
      })
      // the plain listener and the profile's, only while the span is open
      assert(p.value._2 == before + 2)
      assert(BusProbe.listeners(sc) == before)
      assert(p.span.jobs > 0)
      assert(sc.statusTracker.getJobIdsForGroup(p.span.jobGroup).length ==
        p.span.jobs)
      assert(seen.allJobs.get == p.span.jobs)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
      assert(sc.getLocalProperty("spark.job.description") ==
        "the caller's group")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "true")
    } finally sc.clearJobGroup()
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    Profile.run(spark, "no group")(())
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("the root operator's rows out equal the collected rows") {
    val p = Profile.run(spark, rate)(PromQL.query(store, rate, T0, T1).collect())
    assert(p.value.nonEmpty)
    assert(p.span.operators.nonEmpty, p.span.json)
    assert(p.span.rowsOut == p.value.length, p.span.json)
  }

  test("a nested span's jobs are charged to it and not to its parent") {
    val (outer, seen) = watched(Profile.run(spark, "outer") {
      val n = PromQL.query(store, rate, T0, T1).collect().length
      val inner = Profile.run(spark, "inner")(
        PromQL.query(store, "max by (zone) (m[300])", T0, T1).collect())
      (n, inner.span)
    })
    val (o, in) = (outer.span, outer.value._2)
    assert(o.jobs > 0 && in.jobs > 0, o.json)
    assert(o.children == Seq(in) && in.parent == o.id, o.json)
    assert(o.jobs == seen.of(seen.jobs, o.jobGroup), o.json)
    assert(in.jobs == seen.of(seen.jobs, in.jobGroup), o.json)
    assert(o.jobs + in.jobs == seen.allJobs.get, o.json)
    assert(o.selfSeconds < o.seconds, o.json)
  }

  test("the Profile main's runner: reps of a query, a failure reported, " +
      "and a trailing * over the registered names") {
    val reports = graft.tools.Profile.profile(spark, sf0001, 2,
      Seq("tsdb_range_scan"))
    assert(reports.map(_.rep) == Seq(1, 2))
    reports.foreach { r =>
      val p = r.result.get
      assert(p.value > 0 && p.span.jobs > 0, r.json)
    }
    val unknown = graft.tools.Profile.profile(spark, sf0001, 2,
      Seq("no_such_query"))
    assert(unknown.size == 1)
    unknown.head.result match {
      case Failure(e) => assert(e.getMessage.contains("no_such_query"))
      case Success(p) => fail(s"profiled an unknown query: ${p.span.json}")
    }
    val range = graft.tools.Local.queryNames(Seq("tsdb_range_*"))
    assert(range.contains("tsdb_range_scan") && range.size > 1, range)
    assert(range == SparkEntry.registered.map(_._1)
      .filter(_.startsWith("tsdb_range_")).sorted)
  }
}
