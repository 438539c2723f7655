package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tsdb
import graft.promql.{PromQL, Rules}

/** Streaming evaluation of an alerting rule — the live twin of
  * [[graft.promql.Rules.alerts]], proven row-equal to it on a replayed
  * fixture (StreamingSpec).
  *
  * Why one stateful operator instead of `windowedAgg → for-state`: Spark
  * does not support `flatMapGroupsWithState` downstream of a streaming
  * aggregation, so the tumbling bucket accumulation lives INSIDE the
  * alert state. Per labelset the state holds the OPEN buckets (at most
  * `lateness/step + 1` of them — bounded by the watermark, not the
  * stream) plus the current run's start; when the event-time watermark
  * passes a bucket's end the bucket closes, the rule's moment + threshold
  * evaluate, and Prometheus `for` semantics apply: `pending` until the
  * run has been CONTINUOUSLY active for `forSec`, then `firing`; a
  * missed or inactive bucket resets the clock. Event-time timeouts close
  * the tail buckets of keys that stop receiving data.
  *
  * The rule's value expression is a [[LiveCore]]; its state kind's step
  * ([[LiveCore.run]]) closes the buckets, and this twin adds the
  * threshold and the run clock ([[emitRuns]]).
  *
  * Scale: state is per-SERIES (labelset), so evaluation shards across
  * executors by key hash like any `flatMapGroupsWithState`; per-key state
  * is O(open buckets), independent of corpus size or stream length.
  */
object AlertStream {

  /** One emitted alert evaluation — mirrors the batch rule's columns
    * (alertname, grouping labels as a map, bucket_start, value, state). */
  final case class AlertEval(
      alertname: String,
      labels: Map[String, String],
      bucket_start: Long,
      value: Double,
      state: String)

  private val Cmps = Set(">", "<", ">=", "<=")

  private def unsupported(ast: PromQL.Expr): Nothing =
    throw new IllegalArgumentException(
      "streaming alerts support the canonical threshold shape " +
      "`<moment> by|without (labels) (metric[step]) <cmp> <number>` " +
      "and the " +
      "two-metric arithmetic form `<moment> by (l) (a[step]) <aop> " +
      "<moment> by (l) (b[step]) <cmp> <number>`, their counter twins " +
      "`<moment> by (l) (rate|increase(m[step])) …` (single side or " +
      "two-metric arithmetic), and the absence form " +
      "`absent(metric[step]) by (labels)` (no offset/@/[range:step] " +
      "modifiers, matching by-lists, same step), got: " + ast)

  private def holds(cmp: String, v: Double, thr: Double): Boolean = cmp match {
    case ">" => v > thr
    case "<" => v < thr
    case ">=" => v >= thr
    case "<=" => v <= thr
  }

  /** The batch filter's comparison semantics: Spark SQL orders NaN
    * ABOVE every double (nanSafeCompareDoubles), so `NaN > thr` keeps
    * the row — a JVM primitive comparison would drop it and silently
    * diverge from the batch twin (reachable via a 0/0 ratio bucket).
    * `thr` is a parsed literal, never NaN. */
  private def holdsSpark(cmp: String, v: Double, thr: Double): Boolean =
    if (v.isNaN) cmp == ">" || cmp == ">="
    else holds(cmp, v, thr)

  /** The alert twin's use of a [[LiveCore]] step: evaluate each closed
    * bucket's optional value in time order, threshold with
    * [[holdsSpark]], run the Prometheus `for` clock (a missed or
    * inactive step resets it), emit active evaluations. Returns the
    * rows, the advanced (lastActive, runStart) and the clock's deadline:
    * the run info only matters until the NEXT contiguous bucket's close
    * has provably passed (lastActive + 2*step — the watermark then proved
    * a gap), after which it no longer holds the key's state. */
  private def emitRuns(
      rule: Rules.AlertRule,
      step: Long,
      cmp: String,
      thr: Double): LiveCore.Twin[AlertEval] = { (st, closed, wmSec) =>
    var lastActive = st.lastActive
    var runStart = st.runStart
    val out = closed.flatMap { case (bucket, vOpt) =>
      vOpt.filter(holdsSpark(cmp, _, thr)).map { v =>
        val rs = if (lastActive == bucket - step) runStart else bucket
        lastActive = bucket
        runStart = rs
        // static labels merge into the labels map (the batch twin
        // emits them as columns — same information, map-shaped); on a
        // key collision the rule's static label wins, like Prometheus
        AlertEval(rule.name, st.labels ++ rule.staticLabels, bucket, v,
          if (bucket - rs >= rule.forSec) "firing" else "pending")
      }
    }
    (out, (lastActive, runStart), Some(lastActive + 2 * step)
      .filter(d => lastActive != Long.MinValue && wmSec < d))
  }

  /** Evaluate `rule` continuously over a streaming samples frame
    * `(metric: string, labels: map<string,string>, ts: timestamp,
    * value: double)`: `<core> <cmp> <number>` for any [[LiveCore]], or
    * the absence form. `watermark` bounds lateness (and therefore open
    * state); `histBuckets` is a histogram rule's bound universe. Output
    * mode: Append — one row per active closed bucket. */
  def alerts(
      samples: DataFrame,
      rule: Rules.AlertRule,
      watermark: String,
      histBuckets: Seq[String] = Nil): Dataset[AlertEval] = {
    val spark = samples.sparkSession
    import spark.implicits._
    val ast = PromQL.parse(rule.expr)
    (ast match {
      case PromQL.BinOp(cmp, lhs, PromQL.NumLit(thr), _, false, false)
          if Cmps(cmp) =>
        LiveCore.coreOf(lhs, histBuckets).map(core =>
          LiveCore.run(samples, core, watermark)(
            emitRuns(rule, core.step, cmp, thr)))
      case _ => absentShapeOf(ast).map(
        absentAlertsImpl(samples, rule, _, watermark, 48L * 3600))
    }).getOrElse(unsupported(ast))
  }

  /** The subquery case of [[LiveCore.coreOf]]. */
  private[graft] def subqCoreOf(e: PromQL.Expr): Option[LiveCore.Subq] =
    LiveCore.coreOf(e, Nil).collect { case s: LiveCore.Subq => s }

  /** The absence-alert shape: `absent(metric{matchers}[step]) by
    * (labels)` — the heartbeat-lost rule. The trailing `by` picks the
    * SERIES grain the absence is tracked at (PER-KEY absence — a
    * labelset that stops reporting — which is what a fleet needs and
    * what Prometheus's global absent() cannot shard); empty `by` is
    * the global form over one key. */
  private final case class AbsentShape(
      metric: String,
      matchers: Seq[graft.model.LabelMatcher],
      by: Seq[String],
      step: Long)

  private def absentShapeOf(ast: PromQL.Expr): Option[AbsentShape] =
    ast match {
      case PromQL.RangeFn("absent", _, sel: PromQL.Selector, by, _)
          if LiveCore.plain(sel) =>
        Some(AbsentShape(sel.metric, sel.matchers, by, sel.rangeSec.get))
      case _ => None
    }

  /** Internal shapes for the absence path — public for Catalyst's
    * generated (de)serializers. */
  final case class AbsEv(
      key: String, labels: Map[String, String], ts: Timestamp,
      bucket: Long)
  final case class AbsSt(
      labels: Map[String, String],
      lastData: Long,
      emitted: Long)

  /** PER-SERIES absence alerting — the heartbeat-lost rule, live:
    * `absent(metric{matchers}[step]) by (labels)` with `for`. Each
    * labelset that has EVER reported becomes a state key; when the
    * event-time watermark closes a bucket after the key's last data
    * with no samples in it, an absent evaluation (value 1.0) emits —
    * `pending` until the silence has lasted `forSec`, then `firing`
    * (the `for` clock is the absent run itself, which by construction
    * is contiguous from the bucket after the last data). A key silent
    * past `maxAbsentSec` is decommissioned: its state drops and
    * emissions stop, so state stays bounded by the LIVE key count —
    * the property that makes per-series absence shardable where
    * Prometheus's global absent() is not. Event-time timeouts wake
    * quiet keys as the watermark crosses each bucket close; the
    * watermark is taken BEFORE the selector filter, so any traffic on
    * the stream drives absence detection for every key.
    */
  def absentAlerts(
      samples: DataFrame,
      rule: Rules.AlertRule,
      watermark: String,
      maxAbsentSec: Long): Dataset[AlertEval] = {
    val ast = PromQL.parse(rule.expr)
    absentShapeOf(ast).map(absentAlertsImpl(samples, rule, _, watermark,
      maxAbsentSec)).getOrElse(unsupported(ast))
  }

  private def absentAlertsImpl(
      samples: DataFrame,
      rule: Rules.AlertRule,
      s: AbsentShape,
      watermark: String,
      maxAbsentSec: Long): Dataset[AlertEval] = {
    require(maxAbsentSec >= s.step,
      s"maxAbsentSec ($maxAbsentSec) must cover at least one step " +
      s"(${s.step})")
    val spark = samples.sparkSession
    import spark.implicits._
    val g = Grouping.By(s.by)
    samples
      // watermark FIRST: non-matching traffic must still advance it,
      // or a fully-silent selector could never be detected as absent.
      // The `OR ts IS NULL` arm is a PUSHDOWN BARRIER, not a data
      // filter: Catalyst pushes predicate conjuncts through
      // EventTimeWatermark unless they reference the watermark
      // attribute (PushPredicateThroughNonJoin splits AND-chains, so a
      // mere ts-conjunct is NOT enough — the selector test must sit in
      // an unsplittable disjunction with a ts term). A pushed-down
      // selector filter would silently stop unrelated rows from
      // advancing the watermark — the exact failure this path exists
      // to avoid (caught by the StreamingSpec absence test). The
      // second filter drops the vacuous null arm and also stays above
      // the watermark (it references ts).
      .withWatermark("ts", watermark)
      .where((col("metric") === s.metric &&
        Tsdb.matcherPredicate(col("labels"), s.matchers)) ||
        col("ts").isNull)
      .where(col("ts").isNotNull)
      .select(
        g.keyCol(col("labels")).as("key"),
        g.labelsCol(col("labels")).as("labels"),
        col("ts"),
        (col("ts").cast("long") -
          pmod(col("ts").cast("long"), lit(s.step))).as("bucket"))
      .as[AbsEv]
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processAbsent(rule, s, maxAbsentSec))
  }

  private def processAbsent(
      rule: Rules.AlertRule, s: AbsentShape, maxAbsent: Long)(
      key: String,
      events: Iterator[AbsEv],
      state: GroupState[AbsSt]): Iterator[AlertEval] = {
    var st = state.getOption.getOrElse(
      AbsSt(Map.empty, Long.MinValue, Long.MinValue))
    val wmSec = state.getCurrentWatermarkMs() / 1000
    // rows behind the watermark cannot reopen a closed bucket — an
    // already-final absence never rolls back (same lateness rule as
    // the threshold paths)
    val evs = events.toSeq.filter(e => e.bucket + s.step > wmSec)
    if (evs.nonEmpty) {
      if (st.labels.isEmpty) st = st.copy(labels = evs.head.labels)
      val maxB = evs.map(_.bucket).max
      // any open-bucket data is strictly later than every emitted
      // absent bucket (those are watermark-closed), so lastData only
      // ever advances past `emitted` — the next absent run restarts
      // contiguously at lastData + step
      if (maxB > st.lastData) st = st.copy(lastData = maxB)
    }
    val out = List.newBuilder[AlertEval]
    if (st.lastData != Long.MinValue) {
      val runStart = st.lastData + s.step
      val horizon = st.lastData + maxAbsent
      var b = math.max(runStart, st.emitted + s.step)
      while (b + s.step <= wmSec && b <= horizon) {
        out += AlertEval(rule.name, st.labels ++ rule.staticLabels, b,
          1.0, if (b - runStart >= rule.forSec) "firing" else "pending")
        st = st.copy(emitted = b)
        b += s.step
      }
      if (b > horizon) {
        // silence outlived the decommission horizon: drop the key —
        // state stays bounded by live keys, not by history
        if (state.exists) state.remove()
      } else {
        state.update(st)
        // wake when the watermark crosses the next bucket's close
        state.setTimeoutTimestamp((b + s.step) * 1000)
      }
    }
    out.result().iterator
  }
}
