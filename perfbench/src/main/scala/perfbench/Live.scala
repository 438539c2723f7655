package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.Tsdb
import graft.model.{LabelMatcher, TsdbConf}

/** `live`: writes beside reads. One store, empty at the start of the
  * warm-up, takes one scrape of a high-cardinality grid per
  * `Tsdb.insertRows` call. Each fold period appends two scrapes (the
  * series meta folds every second batch) and then runs a freshness read
  * over the last 15 minutes (`discover` and `rate`). A traced run also
  * runs the other four query classes after each period, for their layer
  * spans. */
final class Live(run: Run) extends Workload {
  import run.{spark, seed, tracer}

  private val metrics = if (run.tiny) 2 else 8
  private val hosts = if (run.tiny) 16 else 2560
  private val zones = 8
  private val step = 60L
  private val t0 = 1700000000L - 1700000000L % 86400
  private val grid = Grids.live(seed, metrics, hosts, zones, t0, step)
  private val n = grid.series.size.toLong
  private val reads = new Reads(run)
  private var table: DataFrame = _

  val sizes = Map("series" -> n, "points_per_batch" -> n)

  def build(rep: Int): Unit = {
    if (table != null) table.unpersist()
    table = grid.frame(spark)
    run.drain(table)
  }

  private final class LiveStore {
    val dir = run.dir("live/store")
    val tsdb = new Tsdb(spark, TsdbConf(dir.getPath))
    val ingest = new Ingest(run, tsdb, dir)
    var batches = 0L
    def append(): Double = {
      val t = ingest.batch(grid.scrapes(table, batches, batches + 1), n)
      batches += 1
      t
    }
    def dataEnd: Long = t0 + batches * step
  }

  private val MinPeriods = if (run.tiny) 1 else 2
  /** Query classes a traced run adds after each period. */
  private val Dashboard = Vector("select", "agg", "match", "subquery")

  /** Read `i` of class `cls` over the last 15 minutes of `st`; returns
    * its wall time and whether its output checked out. A `paired` read
    * also runs untraced in a traced run, for the tracing overhead. */
  private def read(st: LiveStore, i: Long, cls: String,
      paired: Boolean = true): (Double, Boolean) = {
    val now = st.dataEnd - step
    val (s, e) = (math.max(t0, now - 840), now)
    val m = s"lm${Gen.below(seed, 51, i, metrics)}"
    val z = s"z${Gen.below(seed, 52, i, zones)}"
    val key = "zone"
    val expect = new Expect(run, grid, st.dataEnd)
    def timed[T](body: => T): (T, Double) =
      if (paired) run.timedPair(i)(body) else Stats.time(body)
    def promql(q: String) = timed(reads.promql(cls, st.tsdb, q, s, e))
    cls match {
      case "select" =>
        val (rows, t) = timed(reads.collect(cls,
          st.tsdb.queryRange(m, Seq(LabelMatcher.eq(key, z)), s, e)))
        (t, expect.select(rows, m, key, z, s, e))
      case "discover" =>
        val ((ser, vals), t) = timed {
          val ser = reads.collect(cls, st.tsdb.querySeries(
            Seq(LabelMatcher.eq("__name__", m), LabelMatcher.eq(key, z)), s, e))
          (ser, reads.collect(cls, st.tsdb.queryLabelValues(key, s, e)))
        }
        (t, expect.series(ser, m, key, z) && expect.labelValues(vals, key))
      case "rate" =>
        val (rows, t) = promql(s"sum by ($key) (rate($m[300]))")
        (t, expect.sumRate(rows, m, key, 300, s, e))
      case "agg" =>
        val (top, t1) = promql(s"topk(3, sum by ($key) (rate($m[300])))")
        val (quant, t2) = promql(s"quantile by ($key) (0.9, rate($m[300]))")
        (t1 + t2, expect.topk(top, 3, m, key, 300, s, e) &&
          expect.quantile(quant, 0.9, m, key, 300, s, e))
      case "match" =>
        val m2 = s"lm${(Gen.below(seed, 53, i, metrics - 1) + m.drop(2).toInt + 1) % metrics}"
        val (rows, t) = promql(s"sum by ($key) (rate($m[300])) / sum by ($key) (rate($m2[300]))")
        (t, expect.ratio(rows, m, m2, key, 300, s, e))
      case "subquery" =>
        val (rows, t) = promql(s"max_over_time(rate($m[300]) by ($key) [3600:300])")
        // columns: key, eval_ts, n, sum_v, avg_v, min_v, max_v, …
        (t, expect.subqueryMax(rows, 6, m, key, 300, s, e))
    }
  }

  /** The freshness read `i`: `discover` then `rate`. Returns the wall
    * time of both and whether both outputs checked out. */
  private def fresh(st: LiveStore, i: Long): (Double, Boolean) = {
    if (tracer.on) tracer.span("tsdb.meta")(run.drain(st.tsdb.seriesMeta))
    val (t1, ok1) = read(st, i, "discover")
    val (t2, ok2) = read(st, i, "rate")
    (t1 + t2, ok1 && ok2)
  }

  private lazy val store = new LiveStore
  private var periods = 0L
  /** Step times of each period: the two appends, then the read. */
  private val steps = mutable.ArrayBuffer.empty[Vector[Double]]

  /** One fold period: two appends (after the store's first batch, the
    * series meta folds every second one, `metaCompactEvery` = 2: the first
    * append of each timed period), then a freshness read; each step is an
    * operation. A traced run adds the dashboard reads. */
  private def period(): Vector[Double] = {
    val i = periods
    periods += 1
    val appends = (0 until 2).map { j =>
      var t = 0.0
      run.op(s"ingest $i.$j") { t = store.append(); true }
      t
    }
    var r = 0.0
    run.op(s"fresh $i") {
      val (t, ok) = fresh(store, i)
      r = t
      ok
    }
    if (tracer.on)
      for (cls <- Dashboard) run.op(s"read $i ($cls)")(read(store, i, cls, paired = false)._2)
    appends.toVector :+ r
  }

  /** One period, untimed, on the client thread; its outputs are checked
    * like the timed ones. A traced run also warms the dashboard reads. */
  def warmup(): Unit = tracer.paused {
    period()
    if (tracer.enabled)
      for (cls <- Dashboard) run.op(s"warm-up ($cls)")(read(store, -1L, cls)._2)
  }

  /** Whole periods on the same store until `seconds` have passed, and
    * at least [[MinPeriods]], so that no step's median rests on one
    * call. */
  def timed(seconds: Double): Unit = {
    val start = System.nanoTime()
    while (steps.size < MinPeriods || (System.nanoTime() - start) / 1e9 < seconds)
      steps += period()
  }

  def report(): Unit = {
    store.ingest.report()
    val batches = steps.flatMap(_.take(2)).toSeq
    val reads = steps.map(_(2)).toSeq
    val stepMedians = (0 until 3).map(j => Stats.median(steps.map(_(j)).toSeq))
    // the store after the fourth batch (one timed period) whatever the
    // engine's speed
    val usage = Store.total(store.ingest.tiers(3))
    run.put("op_p50_s", stepMedians.sum, "s")
    run.put("bytes_per_item", usage.bytes / (n.toDouble * 4), "B")
    run.put("query_p50_s", Stats.median(reads), "s")
    run.put("query_p90_s", Stats.pct(reads, 0.9), "s")
    run.put("ingest_rows_per_s", n.toDouble * batches.size / batches.sum, "rows/s")
    run.put("ingest_batch_p50_s", Stats.median(batches), "s")
    run.put("ingest_batch_p90_s", Stats.pct(batches, 0.9), "s")
    System.err.println(s"perfbench: live periods=${steps.size} step medians " +
      stepMedians.map(t => f"$t%.3f").mkString(" ") + " steps " +
      steps.map(_.map(t => f"$t%.2f").mkString("/")).mkString(" "))
  }
}
