package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.Tsdb
import graft.promql.PromQL

/** Read calls into the engine. Each call is timed from the public API call to the last
  * row at the client; when tracing, it is split into the layer spans. */
final class Reads(run: Run) {
  import run.tracer

  /** A `Tsdb.query*` call: build, plan, then collect. */
  def collect(cls: String, build: => DataFrame): Array[Row] = {
    val df = tracer.span("promql.build")(build)
    tracer.span("plans.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span(s"tsdb.exec.$cls")(df.collect())
    tracer.rowsOut(rows.length)
    rows
  }

  /** A PromQL string: parse, build, plan, then collect. */
  def promql(cls: String, t: Tsdb, q: String, s: Long, e: Long): Array[Row] = {
    if (tracer.on) tracer.span("promql.parse")(PromQL.parse(q))
    collect(cls, PromQL.query(t, q, s, e))
  }
}

/** Expected values of the query classes over a counter grid. */
final class Expect(run: Run, g: Grid, dataEnd: Long) {
  private def slopes(metric: String, key: String, v: String): Seq[Long] =
    g.series.filter(s => s.metric == metric && s.labels(key) == v).map(_.slope)

  def select(rows: Array[Row], metric: String, key: String, v: String,
      s: Long, e: Long): Boolean = {
    val want = g.series.count(x => x.metric == metric && x.labels(key) == v) *
      g.scrapeTimes(s, e, dataEnd).size
    run.check("select row count", rows.length == want, s"${rows.length} != $want") &&
      run.check("select values", rows.forall { r =>
        val sr = g.bySid(r.getMap[String, String](1))
        sr.metric == metric && r.getDouble(3) == g.value(sr, r.getLong(2))
      })
  }

  def series(rows: Array[Row], metric: String, key: String, v: String): Boolean = {
    val want = g.series.filter(x => x.metric == metric && x.labels(key) == v)
      .map(_.labels).toSet
    val got = rows.map(r => r.getMap[String, String](2).toMap - "__name__").toSet
    run.check("series set", got == want && rows.length == want.size,
      s"${rows.length} rows, ${got.size} distinct, want ${want.size}")
  }

  def labelValues(rows: Array[Row], key: String): Boolean = {
    val want = g.series.map(_.labels(key)).distinct.sorted
    run.check("label values", rows.map(_.getString(0)).toSeq == want,
      s"${rows.length} values, want ${want.size}")
  }

  /** `sum by (key) (rate(metric[w]))`: rows `(key, bucket_start,
    * increase, rate_per_sec)`. */
  def sumRate(rows: Array[Row], metric: String, key: String, w: Long,
      s: Long, e: Long): Boolean = {
    val buckets = g.rateBuckets(s, e, w, dataEnd).toMap
    val keys = g.series.map(_.labels(key)).distinct
    val got = rows.map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    run.check("rate groups", got.size == rows.length &&
      got.keySet == (for (k <- keys; b <- buckets.keys) yield (k, b)).toSet,
      s"${rows.length} rows, want ${keys.size * buckets.size}") &&
      run.check("rate values", got.forall { case ((k, b), v) =>
        run.close(v, slopes(metric, key, k).sum.toDouble * buckets(b) / w)
      })
  }

  /** `topk(k, sum by (key) (rate(metric[w])))`: rows `(key,
    * bucket_start, rk, increase, rate_per_sec)`. Tied values may come in
    * either order, so each bucket's values are compared as a list. */
  def topk(rows: Array[Row], k: Int, metric: String, key: String, w: Long,
      s: Long, e: Long): Boolean = {
    val buckets = g.rateBuckets(s, e, w, dataEnd)
    val sums = g.series.map(_.labels(key)).distinct
      .map(v => v -> slopes(metric, key, v).sum).toMap
    val byBucket = rows.groupBy(_.getLong(1))
    run.check("topk buckets", byBucket.keySet == buckets.map(_._1).toSet,
      s"${byBucket.size} buckets, want ${buckets.size}") &&
      run.check("topk values", buckets.forall { case (b, cov) =>
        val got = byBucket(b).sortBy(_.getInt(2))
        val want = sums.values.toSeq.sorted.reverse.take(k).map(_.toDouble * cov / w)
        got.length == want.length &&
          got.map(_.getDouble(4)).zip(want).forall { case (a, x) => run.close(a, x) } &&
          got.forall(r => run.close(r.getDouble(4), sums(r.getString(0)).toDouble * cov / w))
      })
  }

  /** `quantile by (key) (q, rate(metric[w]))`: rows `(key, bucket_start,
    * n_series, q_increase, q_rate)`, linearly interpolated as in
    * Prometheus. */
  def quantile(rows: Array[Row], q: Double, metric: String, key: String,
      w: Long, s: Long, e: Long): Boolean = {
    val buckets = g.rateBuckets(s, e, w, dataEnd).toMap
    def quant(xs: Seq[Long]): Double = {
      val v = xs.sorted.map(_.toDouble)
      val rank = q * (v.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (rank - lo)
    }
    val keys = g.series.map(_.labels(key)).distinct
    run.check("quantile groups", rows.length == keys.size * buckets.size,
      s"${rows.length} rows, want ${keys.size * buckets.size}") &&
      run.check("quantile values", rows.forall { r =>
        val want = quant(slopes(metric, key, r.getString(0))) * buckets(r.getLong(1)) / w
        run.close(r.getDouble(4), want)
      })
  }

  /** `sum by (key) (rate(a[w])) / sum by (key) (rate(b[w]))`: the last
    * column is the ratio rounded to 6 decimals; the window coverage
    * cancels. */
  def ratio(rows: Array[Row], a: String, b: String, key: String, w: Long,
      s: Long, e: Long): Boolean = {
    val n = g.rateBuckets(s, e, w, dataEnd).size * g.series.map(_.labels(key)).distinct.size
    run.check("ratio rows", rows.length == n, s"${rows.length} != $n") &&
      run.check("ratio values", rows.forall { r =>
        val k = r.getString(0)
        val want = slopes(a, key, k).sum.toDouble / slopes(b, key, k).sum
        math.abs(r.getDouble(r.length - 1) - want) <= 1e-6
      })
  }

  /** `max_over_time(rate(metric[w]) by (key) [range:w])`, evaluated
    * at the multiples of `w` in `[s, e]`: the inner rate is a sliding
    * `w`-second window, full from `t0 + w` on, so every output row is
    * the key's slope sum; earlier points have no row. */
  def subqueryMax(rows: Array[Row], col: Int, metric: String, key: String,
      w: Long, s: Long, e: Long): Boolean = {
    val lo = math.max(s, g.t0 + w)
    val n = (lo + Math.floorMod(-lo, w) to e by w).size *
      g.series.map(_.labels(key)).distinct.size
    run.check("subquery rows", rows.length == n, s"${rows.length} != $n") &&
      run.check("subquery values", rows.forall { r =>
        run.close(r.getDouble(col), slopes(metric, key, r.getString(0)).sum.toDouble)
      })
  }
}
