package graft.promql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tsdb

/** Prometheus-style rule evaluation on top of the [[PromQL]] front-end —
  * the layer a TSDB deployment runs continuously against its own data
  * (reference scope: mandodb exposes the storage + query API; recording /
  * alerting rules are the standard companion defined by Prometheus's rule
  * engine, re-expressed here over the batch step grid).
  *
  * Both rule kinds compile the expression once through
  * [[PromQL.compileQuery]], the entry of [[PromQL.query]], and read the
  * grouping labels, grid step, value and time column from the compiled
  * vector — the rule layer adds NO execution paths of its own, so the
  * operators' oracle checks transfer to every rule:
  *
  *  - '''Recording rules''' reshape the compiled frame back into the
  *    engine's sample schema (`metric, labels, ts, value`) under the
  *    rule's output metric name, ready for [[graft.Tsdb.attach]] /
  *    `insertRows` — the `job:metric:agg` materialization loop.
  *  - '''Alerting rules''' mark each (labelset, step) the expression
  *    returns as ACTIVE and apply the `for` clause: an alert is
  *    `pending` until it has been active CONTINUOUSLY (present at every
  *    consecutive grid step) for at least `forSec`, then `firing`.
  *    Consecutive runs are found with the gaps-and-islands key
  *    `bucket_start - row_number * step` — one window over the series'
  *    own steps, partitioned by labelset, so evaluation parallelizes
  *    across series and each partition holds at most window/step rows
  *    (bounded by the query span, never by corpus size).
  */
object Rules {

  /** A recording rule: evaluate `expr` and emit the result as samples of
    * a new metric `name`, with the expression's grouping labels plus
    * `staticLabels` attached. */
  final case class RecordingRule(
      name: String,
      expr: String,
      staticLabels: Map[String, String] = Map.empty)

  /** An alerting rule: `expr` (typically a threshold comparison — any
    * returned row counts as active), `forSec` the continuous-activity
    * duration before `pending` escalates to `firing`. */
  final case class AlertRule(
      name: String,
      expr: String,
      forSec: Long,
      staticLabels: Map[String, String] = Map.empty)

  /** The label columns of a rule's compiled vector: the keys the
    * compile set where it built the frame (a `without` rule's resolved
    * by-list, read from the same label-key job). */
  private def grouping(v: PromQL.Vec, what: String, expr: String)
      : Seq[String] =
    v.keys.getOrElse(throw new IllegalArgumentException(
      s"$what needs an aggregated vector expression " +
      s"(so its label schema is static), got: $expr"))

  private def valueCol(v: PromQL.Vec, what: String, expr: String): String =
    v.value.getOrElse(throw new IllegalArgumentException(
      s"$what needs a single-valued vector expression, got: $expr"))

  /** The label map an emitted sample carries: grouping labels (values via
    * `colFor`) plus the rule's static labels. On a key collision the
    * STATIC label wins — Prometheus rule-label semantics — so shadowed
    * grouping keys are dropped rather than duplicated (`CreateMap`
    * rejects duplicate keys under the default EXCEPTION dedup policy).
    * Shared with [[graft.streaming.RecordStream]] so batch and streaming
    * recorders cannot diverge. */
  private[graft] def labelMap(
      by: Seq[String],
      colFor: String => org.apache.spark.sql.Column,
      static: Map[String, String]): org.apache.spark.sql.Column = {
    val pairs =
      by.filterNot(static.contains)
        .flatMap(k => Seq(lit(k), colFor(k).cast("string"))) ++
        static.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    if (pairs.isEmpty) map().cast("map<string,string>")
    else map(pairs: _*)
  }

  /** Evaluate a recording rule over `[start, end]` and return the result
    * as engine samples: `(metric, labels: Map, ts, value)` — the exact
    * shape [[graft.Tsdb.attach]] and `insertRows` take, so
    * `t.insertRows(Rules.record(t, rule, a, b))` closes the
    * materialization loop. */
  def record(
      t: Tsdb,
      rule: RecordingRule,
      start: Long,
      end: Long): DataFrame = {
    require(rule.name.matches("[a-zA-Z_:][a-zA-Z0-9_:]*"),
      s"invalid metric name for a recording rule: ${rule.name}")
    val v = PromQL.compileQuery(t, rule.expr, start, end, Seq.empty, None)
    val by = grouping(v, "a recording rule", rule.expr)
    val vCol = valueCol(v, "a recording rule", rule.expr)
    val time = v.time.getOrElse(throw new IllegalArgumentException(
      s"a recording rule needs a grid-shaped vector expression, got: " +
      rule.expr))
    v.frame.select(
      lit(rule.name).as("metric"),
      labelMap(by, col, rule.staticLabels).as("labels"),
      col(time).cast("long").as("ts"),
      col(vCol).cast("double").as("value"))
  }

  /** Evaluate an alerting rule over `[start, end]`. Output: one row per
    * ACTIVE (labelset, step) —
    * `(alertname, <grouping labels…>, bucket_start, value, state)` with
    * `state ∈ {pending, firing}`. Prometheus semantics: activity is
    * continuous presence on the eval grid; a missed step resets the
    * clock, and `firing` starts at the first step whose distance from
    * the run's start reaches `forSec`. */
  def alerts(
      t: Tsdb,
      rule: AlertRule,
      start: Long,
      end: Long): DataFrame =
    alertsImpl(rule,
      PromQL.compileQuery(t, rule.expr, start, end, Seq.empty, None))

  /** [[alerts]] served from the DOWNSAMPLED rollup tier instead of raw
    * samples — the alerting analog of [[PromQL.queryFromRollup]]: the
    * rule's expression must be rollup-servable (a moment aggregation
    * whose selector step equals the rollup step, optionally thresholded)
    * and evaluates against the tier's partial aggregates, so a
    * long-lookback alert sweep never rescans raw history. */
  def alertsFromRollup(
      t: Tsdb,
      rule: AlertRule,
      start: Long,
      end: Long,
      rollupStepSec: Long): DataFrame =
    alertsImpl(rule, PromQL.compileQuery(t, rule.expr, start, end,
      Seq.empty, Some(rollupStepSec)))

  private def alertsImpl(rule: AlertRule, v: PromQL.Vec): DataFrame = {
    require(rule.forSec >= 0, s"for duration must be >= 0: ${rule.forSec}")
    // the islands window partitions by the SAME labels the compiled
    // frame carries, or a without-rule would run one global
    // gaps-and-islands pass across all labelsets
    val by = grouping(v, "an alerting rule", rule.expr)
    val (step, _) = v.grid.getOrElse(
      throw new IllegalArgumentException(
        s"an alert expression needs a ranged selector `x[d]` inside " +
        s"(its step IS the evaluation interval): ${rule.expr}"))
    val vCol = valueCol(v, "an alerting rule", rule.expr)
    // the islands and the output read one grid column name: a subquery's
    // own [range:step] resolution IS the rule's evaluation grid
    val df =
      if (v.time.contains("eval_ts"))
        v.frame.withColumnRenamed("eval_ts", "bucket_start")
      else v.frame
    // gaps-and-islands: within a labelset, consecutive steps share
    // (bucket_start - rn*step); the run's first step is the island min
    val w = Window.partitionBy(by.map(col): _*).orderBy("bucket_start")
    val islanded = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__island",
        col("bucket_start") - col("__rn") * lit(step))
    val wi = Window.partitionBy((by :+ "__island").map(col): _*)
    // a static label shadowing a grouping label wins (Prometheus rule
    // semantics): the grouping column is dropped from the output rather
    // than emitted twice under one name
    val staticCols = rule.staticLabels.toSeq.sortBy(_._1)
      .map { case (k, v) => lit(v).as(k) }
    islanded
      .withColumn("__active_since", min("bucket_start").over(wi))
      .select(
        (lit(rule.name).as("alertname") +: staticCols) ++
          by.filterNot(rule.staticLabels.contains).map(col) ++ Seq(
            col("bucket_start"),
            col(vCol).cast("double").as("value"),
            when(col("bucket_start") - col("__active_since") >=
                rule.forSec, "firing")
              .otherwise("pending").as("state")): _*)
  }
}
