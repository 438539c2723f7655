package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tsdb
import graft.promql.{PromQL, Rules}

/** Continuous recording rules — the live twin of
  * [[graft.promql.Rules.record]]: each closed step bucket of the rule's
  * [[LiveCore]] is reshaped into the engine's sample schema under the
  * rule's output metric and appended into the target TSDB through
  * `foreachBatch` (at-least-once per micro-batch, same contract as
  * [[Ingest.ingestStream]]).
  *
  * Unlike [[AlertStream]] a GAUGE rule CAN ride a plain streaming
  * aggregation — there is no downstream stateful operator — so its
  * bucket accumulation is Spark's own windowed agg (map-side partial
  * aggregation, RocksDB/HDFS state store, watermark-driven eviction),
  * and the reshape is a stateless projection. Sums accumulate in
  * decimal(18,2) exactly like [[graft.Tsdb.gaugeAggregate]], so a
  * recorded value is bit-equal to the batch rule's. Counter, histogram
  * and subquery rules need per-series state a windowed aggregation
  * cannot express (the reset-adjusted lag), so they run the same
  * [[LiveCore.run]] state step as the alert twin.
  */
object RecordStream {

  /** Output sample of the stateful recording paths — public for
    * Catalyst's generated (de)serializers. */
  final case class Rec(
      metric: String, labels: Map[String, String], ts: Long,
      value: Double)

  /** The streaming compiled form (exposed so tests can drive it with a
    * memory sink): closed-bucket samples `(metric, labels, ts, value)`
    * of the rule's output metric, Append-mode-ready. */
  def compiled(
      samples: DataFrame,
      rule: Rules.RecordingRule,
      watermark: String,
      histBuckets: Seq[String] = Nil): DataFrame = {
    require(rule.name.matches("[a-zA-Z_:][a-zA-Z0-9_:]*"),
      s"invalid metric name for a recording rule: ${rule.name}")
    val spark = samples.sparkSession
    import spark.implicits._
    val ast = PromQL.parse(rule.expr)
    LiveCore.coreOf(ast, histBuckets) match {
      case Some(g: LiveCore.Gauge) => windowed(samples, rule, g, watermark)
      case Some(core) =>
        LiveCore.run(samples, core, watermark) { (st, closed, _) =>
          // static labels win on collision, like Rules.labelMap (which
          // drops a by-label shadowed by a static one)
          (closed.flatMap { case (t, v) =>
            v.map(Rec(rule.name, st.labels ++ rule.staticLabels, t, _)) },
            (st.lastActive, st.runStart), None)
        }.toDF()
      case None => throw new IllegalArgumentException(
        "streaming recording rules support the canonical moment shape " +
        "`<moment> by|without (labels) (metric[step])`, the two-metric " +
        "arithmetic form `<moment> by (l) (a[step]) <aop> <moment> " +
        "by (l) (b[step])`, and their counter twins " +
        "`<moment> by (l) (rate|increase(m[step])) …` " +
        "(no offset/@/[range:step] modifiers), got: " + ast)
    }
  }

  /** A gauge rule as ONE windowed aggregation with side-conditional
    * aggregates (a row matching several selectors — same metric,
    * overlapping matchers — contributes to each, like independent
    * selectors, and never needs a stream-stream join); the vector match
    * is then a stateless projection over the closed bucket: inner-join
    * semantics (every side present) and the batch compiler's exact
    * arithmetic ([[PromQL.arith]]: `/` rounds to 6, zero denominators
    * yield Prometheus's ±Inf/NaN). A sample the sum cannot hold as
    * decimal(18,2) (non-finite, or past the ceiling) counts in `n`, adds
    * nothing to the sum and still takes part in min/max, as in the alert
    * twin ([[CounterState.dec2]]).
    *
    * Grouping key columns: the by-form groups on the label-value columns
    * directly; the without-form groups on the SORTED entries array of the
    * row's remaining labels — maps are not orderable grouping keys, their
    * sorted entries arrays are, and the array round-trips back to the
    * output map losslessly. */
  private def windowed(
      samples: DataFrame,
      rule: Rules.RecordingRule,
      g: LiveCore.Gauge,
      watermark: String): DataFrame = {
    val preds = g.sides.map(s =>
      col("metric") === s.metric &&
        Tsdb.matcherPredicate(col("labels"), s.matchers))
    val aggs = preds.zipWithIndex.flatMap { case (p, i) => Seq(
      count(when(p, 1)).as(s"n_$i"),
      sum(when(p, col("value")).try_cast("decimal(18,2)"))
        .cast("double").as(s"sum_$i"),
      min(when(p, col("value")).cast("double")).as(s"min_$i"),
      max(when(p, col("value")).cast("double")).as(s"max_$i")) }
    val groupCols = g.grouping match {
      case Grouping.By(by) => by.map(l => col("labels").getItem(l).as(l))
      case w: Grouping.Without =>
        Seq(sort_array(map_entries(w.labelsCol(col("labels"))))
          .as("__lbl"))
    }
    val moments = g.sides.zipWithIndex.map { case (s, i) => s.op match {
      case "sum" => col(s"sum_$i")
      case "avg" => col(s"sum_$i") / col(s"n_$i")
      case "count" => col(s"n_$i").cast("double")
      case "min" => col(s"min_$i")
      case "max" => col(s"max_$i")
    } }
    samples
      .where(preds.reduce(_ || _))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"${g.step} seconds") +: groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .where(g.sides.indices.map(i => col(s"n_$i") > 0).reduce(_ && _))
      .select(
        lit(rule.name).as("metric"),
        recordLabels(g.grouping, rule.staticLabels).as("labels"),
        col("window.start").cast("long").as("ts"),
        g.aop.fold(moments.head)(op => PromQL.arith(op)(moments(0),
          moments(1))).cast("double").as("value"))
  }

  /** The output labels map of a grouped recording aggregation: by-form
    * through Rules.labelMap (shared with the batch recorder — static
    * labels shadow grouping keys); without-form rebuilds the map from
    * the grouped `__lbl` entries array and merges the statics the same
    * way (grouped keys a static shadows are dropped first, so no
    * duplicate-key policy dependence). */
  private def recordLabels(
      g: Grouping,
      staticLabels: Map[String, String]): org.apache.spark.sql.Column =
    g match {
      case Grouping.By(by) => Rules.labelMap(by, col, staticLabels)
      case _: Grouping.Without =>
        val grouped = map_from_entries(col("__lbl"))
        val unshadowed =
          if (staticLabels.isEmpty) grouped
          else map_filter(grouped, (k, _) =>
            !staticLabels.keys.toSeq.sorted
              .map(d => k === lit(d)).reduce(_ || _))
        val static = staticLabels.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
        if (static.isEmpty) unshadowed
        else map_concat(unshadowed, map(static: _*))
    }

  /** Run the rule continuously, appending each closed bucket's samples
    * into `target`. Returns the started query (registered on the target
    * for drain-on-close like every ingest stream). */
  def record(
      samples: DataFrame,
      rule: Rules.RecordingRule,
      target: Tsdb,
      checkpoint: String,
      watermark: String,
      triggerMs: Long = 1000L): StreamingQuery = {
    val q = compiled(samples, rule, watermark).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        target.insertRows(batch)
      }
      .start()
    target.registerQuery(q)
    q
  }
}
