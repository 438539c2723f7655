package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

import graft.Tsdb
import graft.promql.{PromQL, Rules}

/** Continuous recording rules — the live twin of
  * [[graft.promql.Rules.record]]: a watermarked tumbling aggregation of
  * the rule's shape closes each step bucket once late data can no longer
  * arrive, reshapes the closed bucket into the engine's sample schema
  * under the rule's output metric, and appends it into the target TSDB
  * through `foreachBatch` (at-least-once per micro-batch, same contract
  * as [[Ingest.ingestStream]]).
  *
  * Unlike [[AlertStream]] this CAN ride a plain streaming aggregation —
  * there is no downstream stateful operator — so the bucket accumulation
  * is Spark's own windowed agg (map-side partial aggregation, RocksDB/
  * HDFS state store, watermark-driven eviction), and the reshape is a
  * stateless projection. Sums accumulate in decimal(18,2) exactly like
  * [[graft.Tsdb.gaugeAggregate]], so a recorded value is bit-equal to the
  * batch rule's.
  */
object RecordStream {

  private final case class Shape(
      metric: String,
      matchers: Seq[graft.model.LabelMatcher],
      grouping: Grouping,
      op: String,
      step: Long)

  private def shapeOf(rule: Rules.RecordingRule): Shape =
    PromQL.parse(rule.expr) match {
      case PromQL.Agg(op, _, _, by, sel: PromQL.Selector, without)
          if Set("sum", "avg", "min", "max", "count")(op) &&
            sel.rangeSec.isDefined &&
            // reject modifiers the streaming grid does not evaluate —
            // offset/@ would silently shift batch-vs-stream otherwise
            sel.offsetSec == 0 && sel.stepSec.isEmpty && sel.atSpec.isEmpty =>
        Shape(sel.metric, sel.matchers, Grouping.of(by, without), op,
          sel.rangeSec.get)
      case other => throw new IllegalArgumentException(
        "streaming recording rules support the canonical moment shape " +
        "`<moment> by|without (labels) (metric[step])`, the two-metric " +
        "arithmetic form `<moment> by (l) (a[step]) <aop> <moment> " +
        "by (l) (b[step])`, and their counter twins " +
        "`<moment> by (l) (rate|increase(m[step])) …` " +
        "(no offset/@/[range:step] modifiers), got: " + other)
    }

  /** The two-metric arithmetic recording shape — the precomputed
    * `errors / requests` dashboard series: `<moment> by (l) (a[step])
    * <aop> <moment> by (l) (b[step])`. */
  private final case class RatioShape(
      metricA: String,
      matchersA: Seq[graft.model.LabelMatcher],
      opA: String,
      metricB: String,
      matchersB: Seq[graft.model.LabelMatcher],
      opB: String,
      grouping: Grouping,
      aop: String,
      step: Long)

  private def ratioShapeOf(
      rule: Rules.RecordingRule): Option[RatioShape] =
    PromQL.parse(rule.expr) match {
      case PromQL.BinOp(aop,
          PromQL.Agg(opA, _, _, byA, a: PromQL.Selector, woA),
          PromQL.Agg(opB, _, _, byB, b: PromQL.Selector, woB),
          on, false, false)
          if Set("/", "*", "+", "-")(aop) &&
            Set("sum", "avg", "min", "max", "count")(opA) &&
            Set("sum", "avg", "min", "max", "count")(opB) &&
            byA.toSet == byB.toSet && woA.toSet == woB.toSet &&
            (on.isEmpty || on.toSet == byA.toSet) &&
            a.rangeSec.isDefined && a.rangeSec == b.rangeSec &&
            a.offsetSec == 0 && b.offsetSec == 0 &&
            a.stepSec.isEmpty && b.stepSec.isEmpty &&
            a.atSpec.isEmpty && b.atSpec.isEmpty =>
        Some(RatioShape(a.metric, a.matchers, opA,
          b.metric, b.matchers, opB, Grouping.of(byA, woA), aop,
          a.rangeSec.get))
      case _ => None
    }

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
    val ast = PromQL.parse(rule.expr)
    AlertStream.histCoreOf(ast, histBuckets) match {
      case Some(hc) => return compiledHist(samples, rule, hc, watermark)
      case None => ()
    }
    ratioShapeOf(rule) match {
      case Some(rs) => compiledRatio(samples, rule, rs, watermark)
      case None => counterShapeOf(rule) match {
        case Some(cs) => compiledCounter(samples, rule, cs, watermark)
        case None =>
          AlertStream.subqCoreOf(ast) match {
            case Some(core) =>
              compiledSubquery(samples, rule, core, watermark)
            case None => compiledCanonical(samples, rule, watermark)
          }
      }
    }
  }

  /** Live SLO recording — `record: svc:latency:p90` from
    * `histogram_quantile(phi, sum by (le, l…)(rate(bucket[step])))`:
    * the alert twin's per-bound sides + in-state bucketQuantile
    * ([[AlertStream.histCoreOf]]/[[AlertStream.histValue]]), each
    * closed bucket emitting one sample of the recorded metric. The
    * bucket-bound universe arrives via `histBuckets`. */
  private def compiledHist(
      samples: DataFrame,
      rule: Rules.RecordingRule,
      core: AlertStream.HistCore,
      watermark: String): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    CounterState.events(samples, core.sides, core.grouping, core.step,
        watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processHist(rule, core))
      .toDF()
  }

  private def processHist(
      rule: Rules.RecordingRule, core: AlertStream.HistCore)(
      key: String,
      events: Iterator[CounterState.Ev],
      state: GroupState[CounterState.St]): Iterator[Rec] = {
    val wmSec = state.getCurrentWatermarkMs() / 1000
    val (st, closed) = CounterState.advance(
      state.getOption.getOrElse(CounterState.EmptySt), events, wmSec,
      core.sides.size, core.step)
    val out = closed.flatMap { case (b, sides) =>
      AlertStream.histValue(core, sides).map(v =>
        Rec(rule.name, st.labels ++ rule.staticLabels, b, v))
    }
    val deadlines = List(
      st.buf.map(_.bucket + core.step).minOption,
      CounterState.nextCarryDeadline(st.carry)).flatten
    if (deadlines.nonEmpty) {
      state.update(st)
      state.setTimeoutTimestamp(math.max(deadlines.min, wmSec + 1) * 1000)
    } else if (state.exists) state.remove()
    out.iterator
  }

  /** Nested-subquery recording — the live twin of a
    * `fn_over_time(rate(m[ir]) by (l)[or:st])` recording rule
    * (peak-of-rate family): rides [[AlertStream.subqAdvance]]'s
    * shifted-bucket ring machinery and reshapes each closed outer eval
    * into a sample of the rule's output metric. */
  private def compiledSubquery(
      samples: DataFrame,
      rule: Rules.RecordingRule,
      core: AlertStream.SubqCore,
      watermark: String): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    CounterState.events(samples, Seq(core.side), core.grouping, core.bw,
        watermark, shiftedBuckets = true)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processSubq(rule, core))
      .toDF()
  }

  private def processSubq(
      rule: Rules.RecordingRule, core: AlertStream.SubqCore)(
      key: String,
      events: Iterator[CounterState.Ev],
      state: GroupState[AlertStream.SubqSt]): Iterator[Rec] = {
    val wmSec = state.getCurrentWatermarkMs() / 1000
    val st0 = state.getOption.getOrElse(AlertStream.EmptySubqSt)
    val (adv, evals) = AlertStream.subqAdvance(core, st0, events, wmSec)
    val out = evals.flatMap { case (t, vOpt) =>
      vOpt.map(v => Rec(rule.name,
        adv.labels ++ rule.staticLabels, t, v))
    }
    val deadlines = AlertStream.subqDeadlines(core, adv)
    if (deadlines.nonEmpty) {
      state.update(adv)
      state.setTimeoutTimestamp(math.max(deadlines.min, wmSec + 1) * 1000)
    } else if (state.exists) state.remove()
    out.iterator
  }

  /** The counter recording families — `<moment> by (l)
    * (rate|increase(m[step]))` and the two-metric arithmetic twin
    * (precomputed ratio-of-rates): per-series reset-adjusted deltas
    * need a lag over the series' history, which a plain windowed
    * aggregation cannot express, so this path rides the same
    * [[CounterState]] stateful operator as the alert twin — state per
    * labelset is the open buckets plus one carry entry per live
    * series, horizon-purged. */
  private final case class CounterShape(
      sides: Seq[CounterState.Side],
      grouping: Grouping,
      aop: Option[String],
      step: Long)

  /** Output sample of the counter recording path — public for
    * Catalyst's generated (de)serializers. */
  final case class Rec(
      metric: String, labels: Map[String, String], ts: Long,
      value: Double)

  private def plain(sel: PromQL.Selector): Boolean =
    sel.rangeSec.isDefined && sel.offsetSec == 0 &&
      sel.stepSec.isEmpty && sel.atSpec.isEmpty

  private val Moments = Set("sum", "avg", "min", "max", "count")

  private def counterFns(fn: String): Boolean =
    fn == "rate" || fn == "increase"

  private def counterMoment(op: String, q: Option[Double]): Boolean =
    Moments(op) || (op == "quantile" && q.isDefined)

  private def counterSide(
      op: String, q: Option[Double], fn: String,
      sel: PromQL.Selector): CounterState.Side =
    CounterState.Side(sel.metric, sel.matchers, op, fn,
      if (op == "quantile") q else None)

  private def counterShapeOf(
      rule: Rules.RecordingRule): Option[CounterShape] =
    PromQL.parse(rule.expr) match {
      case PromQL.Agg(op, _, q, by,
          PromQL.RangeFn(fn, _, sel: PromQL.Selector, rfBy, _), wo)
          if counterMoment(op, q) && counterFns(fn) &&
            rfBy.isEmpty && plain(sel) =>
        Some(CounterShape(
          Seq(counterSide(op, q, fn, sel)),
          Grouping.of(by, wo), None, sel.rangeSec.get))
      case PromQL.BinOp(aop,
          PromQL.Agg(opA, _, qA, byA,
            PromQL.RangeFn(fnA, _, a: PromQL.Selector, rbA, _), woA),
          PromQL.Agg(opB, _, qB, byB,
            PromQL.RangeFn(fnB, _, b: PromQL.Selector, rbB, _), woB),
          on, false, false)
          if Set("/", "*", "+", "-")(aop) &&
            counterMoment(opA, qA) && counterMoment(opB, qB) &&
            counterFns(fnA) && counterFns(fnB) &&
            byA.toSet == byB.toSet && woA.toSet == woB.toSet &&
            (on.isEmpty || on.toSet == byA.toSet) &&
            rbA.isEmpty && rbB.isEmpty &&
            plain(a) && plain(b) && a.rangeSec == b.rangeSec =>
        Some(CounterShape(
          Seq(counterSide(opA, qA, fnA, a), counterSide(opB, qB, fnB, b)),
          Grouping.of(byA, woA), Some(aop), a.rangeSec.get))
      case _ => None
    }

  private def compiledCounter(
      samples: DataFrame,
      rule: Rules.RecordingRule,
      s: CounterShape,
      watermark: String): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    CounterState.events(samples, s.sides, s.grouping, s.step, watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processCounter(rule, s))
      .toDF()
  }

  private def processCounter(rule: Rules.RecordingRule, s: CounterShape)(
      key: String,
      events: Iterator[CounterState.Ev],
      state: GroupState[CounterState.St]): Iterator[Rec] = {
    val wmSec = state.getCurrentWatermarkMs() / 1000
    val (st, closed) = CounterState.advance(
      state.getOption.getOrElse(CounterState.EmptySt), events, wmSec,
      s.sides.size, s.step)
    val out = closed.flatMap { case (bucket, aggs) =>
      CounterState.value(s.sides, s.aop, s.step, aggs).map(v =>
        // static labels win on collision, like Rules.labelMap (which
        // drops a by-label shadowed by a static one)
        Rec(rule.name, st.labels ++ rule.staticLabels, bucket, v))
    }
    // keep state while an open bucket's close or a carry entry's
    // horizon expiry is still pending; with neither, the key drops
    val deadlines = List(
      st.buf.map(_.bucket + s.step).minOption,
      CounterState.nextCarryDeadline(st.carry)).flatten
    if (deadlines.nonEmpty) {
      state.update(st)
      state.setTimeoutTimestamp(math.max(deadlines.min, wmSec + 1) * 1000)
    } else if (state.exists) state.remove()
    out.iterator
  }

  /** Two-metric arithmetic recording WITHOUT a stream-stream join:
    * both sides flow into ONE windowed aggregation with
    * side-conditional aggregates (a row matching both selectors —
    * same metric, overlapping matchers — contributes to both, like
    * independent selectors), then the vector match is a stateless
    * projection over the closed bucket: inner-join semantics (both
    * sides present) and the batch compiler's exact arithmetic
    * ([[PromQL.arith]]: `/` rounds to 6, zero denominators yield
    * Prometheus's ±Inf/NaN). One streaming aggregation — the same
    * state-store shape and eviction as the canonical path.
    */
  private def compiledRatio(
      samples: DataFrame,
      rule: Rules.RecordingRule,
      s: RatioShape,
      watermark: String): DataFrame = {
    val sideA = col("metric") === s.metricA &&
      Tsdb.matcherPredicate(col("labels"), s.matchersA)
    val sideB = col("metric") === s.metricB &&
      Tsdb.matcherPredicate(col("labels"), s.matchersB)
    def sideAggs(side: org.apache.spark.sql.Column, tag: String) = Seq(
      count(when(side, 1)).as(s"n_$tag"),
      sum(when(side, col("value")).cast("decimal(18,2)"))
        .cast("double").as(s"sum_$tag"),
      min(when(side, col("value")).cast("double")).as(s"min_$tag"),
      max(when(side, col("value")).cast("double")).as(s"max_$tag"))
    val groupCols = s.grouping match {
      case Grouping.By(by) => by.map(l => col("labels").getItem(l).as(l))
      case g: Grouping.Without =>
        Seq(sort_array(map_entries(g.labelsCol(col("labels"))))
          .as("__lbl"))
    }
    val agg = samples
      .where(sideA || sideB)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"${s.step} seconds") +: groupCols: _*)
      .agg(sideAggs(sideA, "a").head,
        (sideAggs(sideA, "a").tail ++ sideAggs(sideB, "b")): _*)
    def momentOf(op: String, tag: String) = op match {
      case "sum" => col(s"sum_$tag")
      case "avg" => col(s"sum_$tag") / col(s"n_$tag")
      case "count" => col(s"n_$tag").cast("double")
      case "min" => col(s"min_$tag")
      case "max" => col(s"max_$tag")
    }
    agg
      .where(col("n_a") > 0 && col("n_b") > 0)
      .select(
        lit(rule.name).as("metric"),
        recordLabels(s.grouping, rule.staticLabels).as("labels"),
        col("window.start").cast("long").as("ts"),
        PromQL.arith(s.aop)(momentOf(s.opA, "a"), momentOf(s.opB, "b"))
          .cast("double").as("value"))
  }

  private def compiledCanonical(
      samples: DataFrame,
      rule: Rules.RecordingRule,
      watermark: String): DataFrame = {
    val s = shapeOf(rule)
    // grouping key columns: the by-form groups on the label-value
    // columns directly (the historic plan); the without-form groups on
    // the SORTED entries array of the row's remaining labels — maps are
    // not orderable grouping keys, their sorted entries arrays are, and
    // the array round-trips back to the output map losslessly
    val groupCols = s.grouping match {
      case Grouping.By(by) => by.map(l => col("labels").getItem(l).as(l))
      case g: Grouping.Without =>
        Seq(sort_array(map_entries(g.labelsCol(col("labels"))))
          .as("__lbl"))
    }
    val agg = samples
      .where(col("metric") === s.metric &&
        Tsdb.matcherPredicate(col("labels"), s.matchers))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"${s.step} seconds") +: groupCols: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"),
        min(col("value").cast("double")).as("min_v"),
        max(col("value").cast("double")).as("max_v"))
    val valueCol = s.op match {
      case "sum" => col("sum_v")
      case "avg" => col("sum_v") / col("n")
      case "count" => col("n").cast("double")
      case "min" => col("min_v")
      case "max" => col("max_v")
    }
    agg.select(
      lit(rule.name).as("metric"),
      recordLabels(s.grouping, rule.staticLabels).as("labels"),
      col("window.start").cast("long").as("ts"),
      valueCol.cast("double").as("value"))
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
