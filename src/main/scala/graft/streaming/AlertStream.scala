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
  * Sums accumulate in BigDecimal with the batch twin's
  * `cast("decimal(18,2)")` rounding, so emitted values are bit-equal to
  * the batch rule's — order-free, unlike a double fold.
  *
  * Scale: state is per-SERIES (labelset), so evaluation shards across
  * executors by key hash like any `flatMapGroupsWithState`; per-key state
  * is O(open buckets), independent of corpus size or stream length.
  */
object AlertStream {

  private def dec2(v: Double): BigDecimal =
    // the batch twin's cast("decimal(18,2)") turns non-finite values
    // into NULL, which sum() skips — mirror by contributing zero (`n`
    // still counts the row, like count(*)). BigDecimal.valueOf would
    // otherwise THROW on NaN/Infinity and kill the streaming query.
    if (v.isNaN || v.isInfinite) BigDecimal(0)
    else BigDecimal(java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP))

  /** Internal event/state shapes — public because Catalyst's generated
    * (de)serializers live outside this object and need access. */
  final case class Ev(
      key: String, labels: Map[String, String], ts: Timestamp,
      bucket: Long, value: Double)
  final case class Bucket(
      bucket: Long, n: Long, sum: BigDecimal, mn: Double, mx: Double)
  final case class St(
      labels: Map[String, String],
      open: List[Bucket],
      lastActive: Long,
      runStart: Long)

  /** One emitted alert evaluation — mirrors the batch rule's columns
    * (alertname, grouping labels as a map, bucket_start, value, state). */
  final case class AlertEval(
      alertname: String,
      labels: Map[String, String],
      bucket_start: Long,
      value: Double,
      state: String)

  /** The supported rule shape, extracted from the parsed expression:
    * `<moment> by|without (labels) (metric{matchers}[step]) <cmp>
    * <threshold>` — `without` groups each row by its OWN labels minus
    * the excluded keys ([[Grouping.Without]]), the batch-equivalent
    * per-series resolution that needs no label-key universe. */
  private final case class Shape(
      metric: String,
      matchers: Seq[graft.model.LabelMatcher],
      grouping: Grouping,
      op: String,
      step: Long,
      cmp: String,
      thr: Double)

  private val Moments = Set("sum", "avg", "min", "max", "count")
  private val Cmps = Set(">", "<", ">=", "<=")

  /** A plain unmodified ranged selector the streaming grid can evaluate
    * — offset/@/[range:step] would silently shift batch-vs-stream. */
  private def plain(sel: PromQL.Selector): Boolean =
    sel.rangeSec.isDefined && sel.offsetSec == 0 &&
      sel.stepSec.isEmpty && sel.atSpec.isEmpty

  private def shapeOf(rule: Rules.AlertRule): Option[Shape] =
    PromQL.parse(rule.expr) match {
      case PromQL.BinOp(cmp, PromQL.Agg(op, _, _, by, sel: PromQL.Selector,
          without), PromQL.NumLit(thr), _, false, false)
          if Cmps(cmp) && Moments(op) && plain(sel) =>
        Some(Shape(sel.metric, sel.matchers, Grouping.of(by, without), op,
          sel.rangeSec.get, cmp, thr))
      case _ => None
    }

  /** The two-metric arithmetic alert shape — the `errors / requests`
    * family: `<moment> by (l) (a[step]) <aop> <moment> by (l) (b[step])
    * <cmp> <number>`, each side carrying its own matcher list. */
  private final case class RatioShape(
      metricA: String,
      matchersA: Seq[graft.model.LabelMatcher],
      opA: String,
      metricB: String,
      matchersB: Seq[graft.model.LabelMatcher],
      opB: String,
      grouping: Grouping,
      aop: String,
      step: Long,
      cmp: String,
      thr: Double)

  private def ratioShapeOf(rule: Rules.AlertRule): Option[RatioShape] =
    PromQL.parse(rule.expr) match {
      case PromQL.BinOp(cmp,
          PromQL.BinOp(aop,
            PromQL.Agg(opA, _, _, byA, a: PromQL.Selector, woA),
            PromQL.Agg(opB, _, _, byB, b: PromQL.Selector, woB),
            on, false, false),
          PromQL.NumLit(thr), _, false, false)
          if Cmps(cmp) && Set("/", "*", "+", "-")(aop) &&
            Moments(opA) && Moments(opB) &&
            byA.toSet == byB.toSet && woA.toSet == woB.toSet &&
            (on.isEmpty || on.toSet == byA.toSet) &&
            plain(a) && plain(b) && a.rangeSec == b.rangeSec =>
        Some(RatioShape(a.metric, a.matchers, opA,
          b.metric, b.matchers, opB, Grouping.of(byA, woA), aop,
          a.rangeSec.get, cmp, thr))
      case _ => None
    }

  private def unsupported(rule: Rules.AlertRule): Nothing =
    throw new IllegalArgumentException(
      "streaming alerts support the canonical threshold shape " +
      "`<moment> by|without (labels) (metric[step]) <cmp> <number>` " +
      "and the " +
      "two-metric arithmetic form `<moment> by (l) (a[step]) <aop> " +
      "<moment> by (l) (b[step]) <cmp> <number>`, their counter twins " +
      "`<moment> by (l) (rate|increase(m[step])) …` (single side or " +
      "two-metric arithmetic), and the absence form " +
      "`absent(metric[step]) by (labels)` (no offset/@/[range:step] " +
      "modifiers, matching by-lists, same step), got: " +
      PromQL.parse(rule.expr))

  private def moment(op: String, b: Bucket): Double = op match {
    case "sum" => b.sum.toDouble
    // divide AFTER the double conversion — the batch avg_v is an IEEE
    // division of the double-cast decimal sum (Tsdb.gaugeAggregate), and a
    // BigDecimal division would round differently at the ulp
    case "avg" => b.sum.toDouble / b.n
    case "count" => b.n.toDouble
    case "min" => b.mn
    case "max" => b.mx
  }

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

  /** Shared close-loop of both rule families: evaluate each closed
    * bucket's optional value in time order, threshold with
    * [[holdsSpark]], run the Prometheus `for` clock (a missed or
    * inactive step resets it), emit active evaluations. Returns the
    * advanced (lastActive, runStart) — the run-clock semantics exist
    * exactly once. */
  private def emitRuns(
      rule: Rules.AlertRule,
      step: Long,
      cmp: String,
      thr: Double,
      labels: Map[String, String],
      closed: List[(Long, Option[Double])],
      out: scala.collection.mutable.Builder[AlertEval, List[AlertEval]],
      lastActive0: Long,
      runStart0: Long): (Long, Long) = {
    var lastActive = lastActive0
    var runStart = runStart0
    closed.foreach { case (bucket, vOpt) =>
      vOpt.foreach { v =>
        if (holdsSpark(cmp, v, thr)) {
          val rs = if (lastActive == bucket - step) runStart else bucket
          val stateStr =
            if (bucket - rs >= rule.forSec) "firing" else "pending"
          // static labels merge into the labels map (the batch twin
          // emits them as columns — same information, map-shaped); on a
          // key collision the rule's static label wins, like Prometheus
          out += AlertEval(rule.name, labels ++ rule.staticLabels,
            bucket, v, stateStr)
          lastActive = bucket
          runStart = rs
        }
      }
    }
    (lastActive, runStart)
  }

  /** Shared state lifecycle: with open buckets, arm a timeout at the
    * earliest close so a quiet key still flushes when the watermark
    * moves; with none, the run info only matters until the NEXT
    * contiguous bucket's close has provably passed (lastActive +
    * 2*step — the watermark then proved a gap), after which the key's
    * state drops entirely: no per-key residue outlives its data by
    * more than one step + lateness. */
  private def persistOrDrop[S](
      state: GroupState[S],
      st: S,
      openBuckets: List[Long],
      lastActive: Long,
      step: Long,
      wmSec: Long): Unit =
    if (openBuckets.nonEmpty) {
      state.update(st)
      state.setTimeoutTimestamp((openBuckets.min + step) * 1000)
    } else if (lastActive != Long.MinValue &&
        wmSec < lastActive + 2 * step) {
      state.update(st)
      state.setTimeoutTimestamp((lastActive + 2 * step) * 1000)
    } else if (state.exists) state.remove()

  /** Evaluate `rule` continuously over a streaming samples frame
    * `(metric: string, labels: map<string,string>, ts: timestamp,
    * value: double)`. `watermark` bounds lateness (and therefore open
    * state). Output mode: Append — one row per active closed bucket. */
  def alerts(
      samples: DataFrame,
      rule: Rules.AlertRule,
      watermark: String,
      histBuckets: Seq[String] = Nil): Dataset[AlertEval] =
    histShapeOf(rule, histBuckets) match {
      case Some(hs) => alertsHist(samples, rule, hs, watermark)
      case None => shapeOf(rule) match {
        case Some(s) => alertsCanonical(samples, rule, s, watermark)
        case None => ratioShapeOf(rule) match {
          case Some(rs) => alertsRatio(samples, rule, rs, watermark)
          case None => counterShapeOf(rule) match {
            case Some(cs) => alertsCounter(samples, rule, cs, watermark)
            case None => subqShapeOf(rule) match {
              case Some(ss) => alertsSubquery(samples, rule, ss, watermark)
              case None => absentShapeOf(rule) match {
                case Some(as) => absentAlerts(samples, rule, as, watermark)
                case None => unsupported(rule)
              }
            }
          }
        }
      }
    }

  // ------------------------------------------------------------------
  // The live SLO alert — `histogram_quantile(phi, sum by (le, l…)
  // (rate(bucket[step]))) <cmp> thr`: each `le` bound is one
  // [[CounterState.Side]] (matcher le="bound"), so one stateful
  // operator keyed at the (by ∖ le) grain carries every bucket
  // series' counter state, and each closed bucket hands the
  // per-bound cumulative rates to an in-state bucketQuantile — the
  // exact double op order of [[graft.Tsdb.histQuantileOnFrame]].
  // The bucket-bound universe must be given up front (`histBuckets`)
  // — a stream cannot scan the le label domain.
  // ------------------------------------------------------------------

  /** The histogram core shared by the alert and recording twins: one
    * CounterState side per le bound, grouping at the (by ∖ le) grain. */
  private[streaming] final case class HistCore(
      sides: Seq[CounterState.Side],
      bounds: IndexedSeq[Double],
      grouping: Grouping,
      phi: Double,
      step: Long)

  private final case class HistShape(core: HistCore, cmp: String,
      thr: Double)

  private[streaming] def histCoreOf(
      e: PromQL.Expr, leBounds: Seq[String]): Option[HistCore] =
    e match {
      case PromQL.HistQuantileAgg(phi,
          PromQL.Agg("sum", None, None, by,
            PromQL.RangeFn(fn, _, sel: PromQL.Selector, Nil, _), Nil))
          if (fn == "rate" || fn == "increase") &&
            by.contains("le") && plain(sel) =>
        require(leBounds.nonEmpty,
          "a live histogram_quantile rule needs the bucket-bound " +
          "universe up front: pass histBuckets = Seq(\"5\", …, " +
          "\"+Inf\") (a stream cannot scan the le label domain)")
        val bs = leBounds.map(b =>
          if (b == "+Inf") Double.PositiveInfinity else b.toDouble)
        require(bs == bs.sorted,
          s"histBuckets must be ascending: $leBounds")
        val sides = leBounds.map(b => CounterState.Side(sel.metric,
          sel.matchers :+ graft.model.LabelMatcher.eq("le", b), "sum", fn))
        Some(HistCore(sides, bs.toIndexedSeq,
          Grouping.of(by.filterNot(_ == "le"), Nil), phi,
          sel.rangeSec.get))
      case _ => None
    }

  private def histShapeOf(
      rule: Rules.AlertRule,
      leBounds: Seq[String]): Option[HistShape] =
    PromQL.parse(rule.expr) match {
      case PromQL.BinOp(cmp, hq: PromQL.HistQuantileAgg,
          PromQL.NumLit(thr), _, false, false) if Cmps(cmp) =>
        histCoreOf(hq, leBounds).map(HistShape(_, cmp, thr))
      case _ => None
    }

  /** Prometheus bucketQuantile over one closed bucket's per-bound
    * values, in [[graft.Tsdb.histQuantileOnFrame]]'s exact double op
    * order: absent bounds are skipped (the batch frame has no row for
    * them), a running max repairs non-monotone cumulatives, the rank
    * `phi·total` interpolates inside the first crossing bucket, and a
    * rank landing in +Inf returns the highest finite PRESENT bound
    * (None when +Inf is the only present bucket — the batch q is NULL
    * there and a NULL compare drops the row). */
  private[streaming] def bucketQuantile(
      bounds: IndexedSeq[Double],
      vals: IndexedSeq[Option[Double]],
      phi: Double): Option[Double] = {
    val present = bounds.zip(vals).collect { case (b, Some(v)) => (b, v) }
    if (present.isEmpty) return None
    var run = Double.NegativeInfinity
    val mono = present.map { case (b, v) =>
      run = math.max(run, v); (b, run) }
    val total = mono.last._2
    val target = phi * total
    var prevV = 0.0
    var prevLe: Option[Double] = None
    for ((le, vm) <- mono) {
      if (vm >= target && prevV < target) {
        return if (le.isPosInfinity) prevLe
        else {
          val lo = prevLe.getOrElse(0.0)
          Some(lo + (le - lo) * (target - prevV) / (vm - prevV))
        }
      }
      prevV = vm; prevLe = Some(le)
    }
    None
  }

  private[streaming] def histValue(
      s: HistCore,
      sides: Vector[Option[CounterState.SideAgg]]): Option[Double] =
    bucketQuantile(s.bounds,
      s.bounds.indices.map(i => sides(i).map(a =>
        CounterState.moment(s.sides(i), s.step, a))).toIndexedSeq,
      s.phi)

  private def alertsHist(
      samples: DataFrame,
      rule: Rules.AlertRule,
      s: HistShape,
      watermark: String): Dataset[AlertEval] = {
    val spark = samples.sparkSession
    import spark.implicits._
    CounterState.events(samples, s.core.sides, s.core.grouping,
        s.core.step, watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processHist(rule, s))
  }

  private def processHist(rule: Rules.AlertRule, s: HistShape)(
      key: String,
      events: Iterator[CounterState.Ev],
      state: GroupState[CounterState.St]): Iterator[AlertEval] = {
    val wmSec = state.getCurrentWatermarkMs() / 1000
    val (st0, closed) = CounterState.advance(
      state.getOption.getOrElse(CounterState.EmptySt), events, wmSec,
      s.core.sides.size, s.core.step)
    val out = List.newBuilder[AlertEval]
    val (la, rs) = emitRuns(rule, s.core.step, s.cmp, s.thr, st0.labels,
      closed.map { case (b, sides) => b -> histValue(s.core, sides) },
      out, st0.lastActive, st0.runStart)
    val st = st0.copy(lastActive = la, runStart = rs)
    val deadlines = List(
      st.buf.map(_.bucket + s.core.step).minOption,
      CounterState.nextCarryDeadline(st.carry),
      if (la != Long.MinValue && wmSec < la + 2 * s.core.step)
        Some(la + 2 * s.core.step)
      else None).flatten
    if (deadlines.nonEmpty) {
      state.update(st)
      state.setTimeoutTimestamp(math.max(deadlines.min, wmSec + 1) * 1000)
    } else if (state.exists) state.remove()
    out.result().iterator
  }

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

  private def absentShapeOf(rule: Rules.AlertRule): Option[AbsentShape] =
    PromQL.parse(rule.expr) match {
      case PromQL.RangeFn("absent", _, sel: PromQL.Selector, by, _)
          if plain(sel) =>
        Some(AbsentShape(sel.metric, sel.matchers, by, sel.rangeSec.get))
      case _ => None
    }

  /** Internal shapes for the absence path — public for Catalyst's
    * generated (de)serializers, like [[Ev]]/[[St]]. */
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
      maxAbsentSec: Long): Dataset[AlertEval] =
    absentShapeOf(rule) match {
      case Some(as) =>
        absentAlertsImpl(samples, rule, as, watermark, maxAbsentSec)
      case None => unsupported(rule)
    }

  private def absentAlerts(
      samples: DataFrame,
      rule: Rules.AlertRule,
      s: AbsentShape,
      watermark: String): Dataset[AlertEval] =
    absentAlertsImpl(samples, rule, s, watermark,
      maxAbsentSec = 48L * 3600)

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

  private def alertsCanonical(
      samples: DataFrame,
      rule: Rules.AlertRule,
      s: Shape,
      watermark: String): Dataset[AlertEval] = {
    val spark = samples.sparkSession
    import spark.implicits._
    // key + output labels from the shared Grouping: the by-form keeps
    // the historic NUL-joined key with an absent-label sentinel, the
    // without-form keys each row on its own canonicalized remaining
    // labels (Grouping scaladoc proves batch-partition equivalence)
    samples
      .where(col("metric") === s.metric &&
        Tsdb.matcherPredicate(col("labels"), s.matchers))
      .withWatermark("ts", watermark)
      .select(
        s.grouping.keyCol(col("labels")).as("key"),
        s.grouping.labelsCol(col("labels")).as("labels"),
        col("ts"),
        (col("ts").cast("long") -
          pmod(col("ts").cast("long"), lit(s.step))).as("bucket"),
        col("value").cast("double").as("value"))
      .as[Ev]
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        process(rule, s))
  }

  private def process(rule: Rules.AlertRule, s: Shape)(
      key: String,
      events: Iterator[Ev],
      state: GroupState[St]): Iterator[AlertEval] = {
    var st = state.getOption.getOrElse(
      St(Map.empty, Nil, Long.MinValue, Long.MinValue))
    val wmSec = state.getCurrentWatermarkMs() / 1000
    // merge this trigger's events into their open buckets — rows later
    // than the watermark are dropped here (flatMapGroupsWithState does
    // NOT auto-filter them the way a streaming aggregation does), which
    // mirrors the batch twin: a closed bucket never reopens
    val evs = events.toSeq.filter(e => e.bucket + s.step > wmSec)
    if (evs.nonEmpty && st.labels.isEmpty)
      st = st.copy(labels = evs.head.labels)
    val merged = evs.foldLeft(st.open.map(b => b.bucket -> b).toMap) {
      (acc, e) =>
        val b = acc.getOrElse(e.bucket,
          Bucket(e.bucket, 0L, BigDecimal(0), Double.MaxValue,
            Double.MinValue))
        // min skips NaN like Spark's aggregate (NaN sorts ABOVE all
        // doubles there, so it never wins a min); max keeps Java's
        // natural NaN propagation, which IS Spark's max
        acc.updated(e.bucket, Bucket(e.bucket, b.n + 1, b.sum + dec2(e.value),
          if (e.value.isNaN) b.mn else math.min(b.mn, e.value),
          math.max(b.mx, e.value)))
    }
    // close every bucket the watermark has passed, in time order; the
    // run clock resets on any non-contiguous (missed or inactive) step
    val (closed, open) = merged.values.toList.sortBy(_.bucket)
      .partition(_.bucket + s.step <= wmSec)
    val out = List.newBuilder[AlertEval]
    val (la, rs) = emitRuns(rule, s.step, s.cmp, s.thr, st.labels,
      closed.map(b => b.bucket -> Some(moment(s.op, b))), out,
      st.lastActive, st.runStart)
    st = st.copy(open = open, lastActive = la, runStart = rs)
    persistOrDrop(state, st, open.map(_.bucket), la, s.step, wmSec)
    out.result().iterator
  }

  /** Internal event/state shapes for the two-metric form — public for
    * Catalyst's generated (de)serializers, like [[Ev]]/[[St]]. */
  final case class Ev2(
      key: String, labels: Map[String, String], ts: Timestamp,
      bucket: Long, side: Int, value: Double)
  final case class Bucket2(
      bucket: Long,
      nA: Long, sumA: BigDecimal, mnA: Double, mxA: Double,
      nB: Long, sumB: BigDecimal, mnB: Double, mxB: Double)
  final case class St2(
      labels: Map[String, String],
      open: List[Bucket2],
      lastActive: Long,
      runStart: Long)

  private def moment2(
      op: String, n: Long, sum: BigDecimal, mn: Double, mx: Double)
      : Double = op match {
    case "sum" => sum.toDouble
    case "avg" => sum.toDouble / n
    case "count" => n.toDouble
    case "min" => mn
    case "max" => mx
  }

  /** The vector-match arithmetic with the BATCH twin's exact rounding:
    * `/` rounds to 6 decimals (PromQL's arith, shared with the DuckDB
    * oracle); NaN/Infinity pass through like Catalyst's Round. */
  private def arith2(aop: String, a: Double, b: Double): Double =
    aop match {
      case "/" =>
        val r = a / b
        if (r.isNaN || r.isInfinite) r
        else java.math.BigDecimal.valueOf(r)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      case "*" => a * b
      case "+" => a + b
      case "-" => a - b
    }

  /** The two-metric arithmetic alert — the streaming twin of the batch
    * rule over `sum by (l)(a[step]) / sum by (l)(b[step]) > thr` (any
    * moment pair, any of `/ * + -`). One stateful operator per labelset
    * whose open buckets accumulate BOTH sides; when the watermark closes
    * a bucket, the vector match applies (INNER-join semantics: a bucket
    * with only one side present evaluates to no row — inactive, run
    * broken), then the arithmetic, the threshold, and Prometheus `for`
    * escalation — identical to the batch rule's gaps-and-islands pass,
    * proven row-equal on a replayed fixture (StreamingSpec).
    *
    * Scale: same bounds as the canonical form — per-key state is
    * O(open buckets), each bucket a fixed 9-field record; key
    * cardinality (labelsets), not stream length, sizes the state.
    */
  private def alertsRatio(
      samples: DataFrame,
      rule: Rules.AlertRule,
      s: RatioShape,
      watermark: String): Dataset[AlertEval] = {
    val spark = samples.sparkSession
    import spark.implicits._
    val g = s.grouping
    // a row may satisfy BOTH sides (same metric, overlapping matchers —
    // the errors{code="500"} / errors idiom), so side membership is an
    // exploded array, never an either/or branch
    val sideA = col("metric") === s.metricA &&
      Tsdb.matcherPredicate(col("labels"), s.matchersA)
    val sideB = col("metric") === s.metricB &&
      Tsdb.matcherPredicate(col("labels"), s.matchersB)
    samples
      .where(sideA || sideB)
      .withWatermark("ts", watermark)
      .select(
        g.keyCol(col("labels")).as("key"),
        g.labelsCol(col("labels")).as("labels"),
        col("ts"),
        (col("ts").cast("long") -
          pmod(col("ts").cast("long"), lit(s.step))).as("bucket"),
        explode(array(when(sideA, 0), when(sideB, 1))).as("side"),
        col("value").cast("double").as("value"))
      .where(col("side").isNotNull)
      .as[Ev2]
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        process2(rule, s))
  }

  private def process2(rule: Rules.AlertRule, s: RatioShape)(
      key: String,
      events: Iterator[Ev2],
      state: GroupState[St2]): Iterator[AlertEval] = {
    var st = state.getOption.getOrElse(
      St2(Map.empty, Nil, Long.MinValue, Long.MinValue))
    val wmSec = state.getCurrentWatermarkMs() / 1000
    val evs = events.toSeq.filter(e => e.bucket + s.step > wmSec)
    if (evs.nonEmpty && st.labels.isEmpty)
      st = st.copy(labels = evs.head.labels)
    def zero(b: Long) = Bucket2(b,
      0L, BigDecimal(0), Double.MaxValue, Double.MinValue,
      0L, BigDecimal(0), Double.MaxValue, Double.MinValue)
    val merged = evs.foldLeft(st.open.map(b => b.bucket -> b).toMap) {
      (acc, e) =>
        val b = acc.getOrElse(e.bucket, zero(e.bucket))
        // same NaN handling as the canonical merge: min skips, max
        // propagates (Spark aggregate semantics)
        acc.updated(e.bucket,
          if (e.side == 0)
            b.copy(nA = b.nA + 1, sumA = b.sumA + dec2(e.value),
              mnA = if (e.value.isNaN) b.mnA else math.min(b.mnA, e.value),
              mxA = math.max(b.mxA, e.value))
          else
            b.copy(nB = b.nB + 1, sumB = b.sumB + dec2(e.value),
              mnB = if (e.value.isNaN) b.mnB else math.min(b.mnB, e.value),
              mxB = math.max(b.mxB, e.value)))
    }
    val (closed, open) = merged.values.toList.sortBy(_.bucket)
      .partition(_.bucket + s.step <= wmSec)
    val out = List.newBuilder[AlertEval]
    // the batch twin's vector match is an INNER join: a bucket with
    // only one side present evaluates to no row — inactive, run broken
    val (la, rs) = emitRuns(rule, s.step, s.cmp, s.thr, st.labels,
      closed.map(b => b.bucket -> (
        if (b.nA > 0 && b.nB > 0)
          Some(arith2(s.aop,
            moment2(s.opA, b.nA, b.sumA, b.mnA, b.mxA),
            moment2(s.opB, b.nB, b.sumB, b.mnB, b.mxB)))
        else None)), out, st.lastActive, st.runStart)
    st = st.copy(open = open, lastActive = la, runStart = rs)
    persistOrDrop(state, st, open.map(_.bucket), la, s.step, wmSec)
    out.result().iterator
  }

  /** The counter-rule families — `sum by (l) (rate(errors[5m])) > thr`
    * and its two-metric arithmetic twin (ratio of rates). Sides are
    * [[CounterState.Side]]s; one side for the canonical form, two for
    * the arithmetic form (`aop`/`opB` present). */
  private final case class CounterShape(
      sides: Seq[CounterState.Side],
      grouping: Grouping,
      aop: Option[String],
      step: Long,
      cmp: String,
      thr: Double)

  private def counterFns(fn: String): Boolean =
    fn == "rate" || fn == "increase"

  /** A usable counter moment: the five plain moments, or `quantile`
    * with its parameter (the SLO family). */
  private def counterMoment(op: String, q: Option[Double]): Boolean =
    Moments(op) || (op == "quantile" && q.isDefined)

  private def counterSide(
      op: String, q: Option[Double], fn: String,
      sel: PromQL.Selector): CounterState.Side =
    CounterState.Side(sel.metric, sel.matchers, op, fn,
      if (op == "quantile") q else None)

  private def counterShapeOf(rule: Rules.AlertRule): Option[CounterShape] =
    PromQL.parse(rule.expr) match {
      // single side: <moment> by (l) (rate|increase(m[step])) <cmp> thr
      case PromQL.BinOp(cmp,
          PromQL.Agg(op, _, q, by,
            PromQL.RangeFn(fn, _, sel: PromQL.Selector, rfBy, _), wo),
          PromQL.NumLit(thr), _, false, false)
          if Cmps(cmp) && counterMoment(op, q) && counterFns(fn) &&
            rfBy.isEmpty && plain(sel) =>
        Some(CounterShape(
          Seq(counterSide(op, q, fn, sel)),
          Grouping.of(by, wo), None, sel.rangeSec.get, cmp, thr))
      // two sides: <moment> by (l) (rate(a[s])) <aop>
      //            <moment> by (l) (rate(b[s])) <cmp> thr
      case PromQL.BinOp(cmp,
          PromQL.BinOp(aop,
            PromQL.Agg(opA, _, qA, byA,
              PromQL.RangeFn(fnA, _, a: PromQL.Selector, rbA, _), woA),
            PromQL.Agg(opB, _, qB, byB,
              PromQL.RangeFn(fnB, _, b: PromQL.Selector, rbB, _), woB),
            on, false, false),
          PromQL.NumLit(thr), _, false, false)
          if Cmps(cmp) && Set("/", "*", "+", "-")(aop) &&
            counterMoment(opA, qA) && counterMoment(opB, qB) &&
            counterFns(fnA) && counterFns(fnB) &&
            byA.toSet == byB.toSet && woA.toSet == woB.toSet &&
            (on.isEmpty || on.toSet == byA.toSet) &&
            rbA.isEmpty && rbB.isEmpty &&
            plain(a) && plain(b) && a.rangeSec == b.rangeSec =>
        Some(CounterShape(
          Seq(counterSide(opA, qA, fnA, a), counterSide(opB, qB, fnB, b)),
          Grouping.of(byA, woA), Some(aop), a.rangeSec.get, cmp, thr))
      case _ => None
    }

  /** Counter-family evaluation of one closed bucket: the side moments
    * ([[CounterState.moment]] — the batch compiler's exact op order and
    * rounding) vector-matched like the gauge ratio path (INNER join: a
    * side with no contributing series drops the bucket's row). */
  private def counterValue(
      s: CounterShape, sides: Vector[Option[CounterState.SideAgg]])
      : Option[Double] =
    CounterState.value(s.sides, s.aop, s.step, sides)

  /** The counter-rule streaming twin of the batch counter family
    * ([[graft.Tsdb.counterSeries]] + [[graft.Tsdb.counterAggregate]])
    * under `Rules.alerts` — per-labelset state carries each live
    * series' last sample across bucket closes so reset-adjusted deltas
    * replay the batch lag exactly ([[CounterState]]'s contract;
    * StreamingSpec proves row-equality on a replayed fixture).
    *
    * Scale: state per key is O(open buckets × samples-per-step +
    * live series in the key) — the carry map is bounded by series
    * cardinality and horizon-purged, never by stream length; keys
    * shard across executors like every flatMapGroupsWithState. */
  private def alertsCounter(
      samples: DataFrame,
      rule: Rules.AlertRule,
      s: CounterShape,
      watermark: String): Dataset[AlertEval] = {
    val spark = samples.sparkSession
    import spark.implicits._
    CounterState.events(samples, s.sides, s.grouping, s.step, watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processCounter(rule, s))
  }

  private def processCounter(rule: Rules.AlertRule, s: CounterShape)(
      key: String,
      events: Iterator[CounterState.Ev],
      state: GroupState[CounterState.St]): Iterator[AlertEval] = {
    val wmSec = state.getCurrentWatermarkMs() / 1000
    val (st0, closed) = CounterState.advance(
      state.getOption.getOrElse(CounterState.EmptySt), events, wmSec,
      s.sides.size, s.step)
    val out = List.newBuilder[AlertEval]
    val (la, rs) = emitRuns(rule, s.step, s.cmp, s.thr, st0.labels,
      closed.map { case (b, sides) => b -> counterValue(s, sides) },
      out, st0.lastActive, st0.runStart)
    val st = st0.copy(lastActive = la, runStart = rs)
    // keep state while anything still needs it: an open bucket's close,
    // a carry entry's horizon expiry, or the run clock's relevance
    // window (lastActive + 2*step, like the gauge paths) — whichever
    // wakes first; with none left the key's state drops entirely
    val deadlines = List(
      st.buf.map(_.bucket + s.step).minOption,
      CounterState.nextCarryDeadline(st.carry),
      if (la != Long.MinValue && wmSec < la + 2 * s.step)
        Some(la + 2 * s.step)
      else None).flatten
    if (deadlines.nonEmpty) {
      state.update(st)
      state.setTimeoutTimestamp(math.max(deadlines.min, wmSec + 1) * 1000)
    } else if (state.exists) state.remove()
    out.result().iterator
  }

  // ------------------------------------------------------------------
  // Nested-subquery alerts — the live twin of the batch
  // `fn_over_time(rate(x[ir]) by (l)[or:st]) <cmp> thr` rule family
  // (Rules.alerts via PromQL's SubqueryFn compile; r13 pinned a loud
  // streaming rejection, lifted here).
  //
  // Why it decomposes exactly: the batch inner leg attributes each
  // per-series reset-adjusted delta (at sample time ts) to every inner
  // eval point E with ts ∈ (E−ir, E]. Bucketing samples by the SHIFTED
  // convention (B holds ts ∈ (B, B+st]) makes every delta in bucket B
  // contribute to exactly the evals {B+st, …, B+ir} — so when st | ir,
  // inner(E) is the plain sum of the last ir/st closed bucket delta
  // sums, and the outer window (T−or, T] is the last or/st inner
  // values. Per-key state: the CounterState open-bucket buffer + carry
  // map, plus two bounded rings (ir/st bucket sums, or/st inner
  // values) — O(ir/st + or/st), independent of stream length.
  // ------------------------------------------------------------------

  /** The streaming-supported subquery CORE:
    * `fn_over_time( rate|increase(m[ir]) by (l) [or:st] )` (or the
    * canonical `sum by (l)(rate(m[ir]))` inner spelling), with st | ir
    * and st | or — the divisibility that makes sliding windows exact
    * unions of shifted tumbling closes. Shared by the alert twin here
    * and [[RecordStream]]'s subquery recording twin. */
  /** `bw` is the shifted-bucket width the rings advance by — gcd(ir, st),
    * so a NON-divisible inner window (st ∤ ir) still decomposes exactly:
    * every eval point E (a multiple of st) and window edge E−ir are
    * multiples of bw, so inner(E) is the sum of the last ir/bw closed
    * bucket sums. When st | ir, bw == st (the r14 machinery unchanged).
    * State per key: O(ir/bw + or/st) — bounded by [[MaxInnerRing]]. */
  private[graft] final case class SubqCore(
      side: CounterState.Side,
      grouping: Grouping,
      outer: String,
      ir: Long,
      or: Long,
      st: Long,
      bw: Long,
      q: Option[Double] = None)

  /** Cap on the inner bucket ring (ir/gcd(ir, st)): a pathological grid
    * like rate(m[3601])[6h:1h] has gcd 1 and would hold 3601 bucket
    * sums per key — reject those loudly instead of ballooning state. */
  private[streaming] val MaxInnerRing = 4096L

  private def gcd(a: Long, b: Long): Long =
    if (b == 0) a else gcd(b, a % b)

  private val SubqOuters = Set("max_over_time", "min_over_time",
    "sum_over_time", "count_over_time", "avg_over_time", "last_over_time",
    // r15: the outer ring holds the full or/st inner-value window, so
    // exact quantile/spread/mad are in-state compute — op order mirrors
    // Tsdb.overTimeOnFrame 1:1 (see subqOuter)
    "quantile_over_time", "stddev_over_time", "stdvar_over_time",
    "mad_over_time")

  /** A sliding selector the ring machinery can evaluate — like
    * [[plain]] but a [range:step] step IS the point. */
  private def slidingSel(sel: PromQL.Selector): Boolean =
    sel.rangeSec.isDefined && sel.stepSec.isDefined &&
      sel.offsetSec == 0 && sel.atSpec.isEmpty

  private[graft] def subqCoreOf(e: PromQL.Expr): Option[SubqCore] =
    e match {
      // quantile_over_time carries its q in the SubqueryFn q slot;
      // every other supported outer must have it empty
      case PromQL.SubqueryFn(fn, body, or, st, qv, 0L)
          if SubqOuters(fn) &&
            (if (fn == "quantile_over_time") qv.isDefined
             else qv.isEmpty) =>
        // a SLIDING-selector inner (rate(m[ir:ist]) — depth-2 nesting)
        // is accepted when its pinned grid covers the outer sampling
        // grid (ist | st): the inner step is value-inert under the
        // engine's raw-window convention (the batch depth-2 rule), so
        // the rings evaluate the inner window directly on the st grid
        val inner = body match {
          case PromQL.RangeFn(cf, _, sel: PromQL.Selector, by, _)
              if (cf == "rate" || cf == "increase") && by.nonEmpty &&
                (plain(sel) ||
                  (slidingSel(sel) && st % sel.stepSec.get == 0)) =>
            Some((cf, sel, by))
          case PromQL.Agg("sum", None, None, by,
              PromQL.RangeFn(cf, _, sel: PromQL.Selector, Nil, _), Nil)
              if (cf == "rate" || cf == "increase") && by.nonEmpty &&
                (plain(sel) ||
                  (slidingSel(sel) && st % sel.stepSec.get == 0)) =>
            Some((cf, sel, by))
          case _ => None
        }
        inner.flatMap { case (cf, sel, by) =>
          val ir = sel.rangeSec.get
          val bw = gcd(ir, st)
          if (or % st == 0 && or >= st && ir >= bw &&
              ir / bw <= MaxInnerRing)
            Some(SubqCore(
              CounterState.Side(sel.metric, sel.matchers, "sum", cf),
              Grouping.of(by, Nil), fn, ir, or, st, bw, qv))
          else None
        }
      // the sliding-SELECTOR form — `rate(m[ir:st]) by (l)` (or the
      // canonical sum-by spelling): every eval IS the inner leg, i.e.
      // the same rings with a single-entry outer window
      // (or = st, outer = last_over_time ⇒ outer(T) ≡ inner(T))
      case PromQL.RangeFn(cf, _, sel: PromQL.Selector, by, _)
          if (cf == "rate" || cf == "increase") && by.nonEmpty &&
            slidingSel(sel) =>
        val ir = sel.rangeSec.get; val st = sel.stepSec.get
        val bw = gcd(ir, st)
        if (ir >= bw && ir / bw <= MaxInnerRing)
          Some(SubqCore(
            CounterState.Side(sel.metric, sel.matchers, "sum", cf),
            Grouping.of(by, Nil), "last_over_time", ir, st, st, bw))
        else None
      case PromQL.Agg("sum", None, None, by,
          PromQL.RangeFn(cf, _, sel: PromQL.Selector, Nil, _), Nil)
          if (cf == "rate" || cf == "increase") && by.nonEmpty &&
            slidingSel(sel) =>
        val ir = sel.rangeSec.get; val st = sel.stepSec.get
        val bw = gcd(ir, st)
        if (ir >= bw && ir / bw <= MaxInnerRing)
          Some(SubqCore(
            CounterState.Side(sel.metric, sel.matchers, "sum", cf),
            Grouping.of(by, Nil), "last_over_time", ir, st, st, bw))
        else None
      case _ => None
    }

  private final case class SubqShape(core: SubqCore, cmp: String,
      thr: Double)

  private def subqShapeOf(rule: Rules.AlertRule): Option[SubqShape] =
    PromQL.parse(rule.expr) match {
      case PromQL.BinOp(cmp, lhs, PromQL.NumLit(thr), _, false, false)
          if Cmps(cmp) =>
        subqCoreOf(lhs).map(SubqShape(_, cmp, thr))
      case _ => None
    }

  /** Ring entries — public for Catalyst's generated (de)serializers.
    * `present=false` marks an absent bucket/eval (no deltas), kept so
    * the rings stay CONTIGUOUS and window membership is positional. */
  final case class BSum(bucket: Long, sum: BigDecimal, present: Boolean)
  final case class IVal(e: Long, v: Double, present: Boolean)
  final case class SubqSt(
      labels: Map[String, String],
      buf: List[CounterState.Buf],
      carry: Map[String, CounterState.Carry],
      nextBucket: Long,
      bsums: List[BSum],
      ivals: List[IVal],
      lastActive: Long,
      runStart: Long)

  private[streaming] val EmptySubqSt = SubqSt(Map.empty, Nil, Map.empty,
    Long.MinValue, Nil, Nil, Long.MinValue, Long.MinValue)

  /** The batch outer moment over the present inner evals of one window
    * — overTimeOnFrame's op order: decimal-exact sum cast double, the
    * avg division after, max over (eval_ts, value) structs for last;
    * quantile is Spark's exact Percentile interpolation then round(…,6);
    * spread is the integer-micro scheme (inner values are floor-r6
    * quantized, so v·1e6 rounds to an exact micro) with tie-free
    * floor-r6 on the stdvar/stddev; mad is the exact median of absolute
    * deviations from the window median, floor-r6. */
  private[streaming] def subqOuter(
      fn: String, q: Option[Double], win: Seq[IVal]): Option[Double] = {
    val present = win.filter(_.present)
    if (present.isEmpty) None
    else Some(fn match {
      case "max_over_time" => present.map(_.v).max
      case "min_over_time" => present.map(_.v).min
      case "count_over_time" => present.size.toDouble
      case "last_over_time" => present.maxBy(_.e).v
      case "sum_over_time" =>
        present.map(v => BigDecimal(v.v)).sum.toDouble
      case "avg_over_time" =>
        present.map(v => BigDecimal(v.v)).sum.toDouble / present.size
      case "quantile_over_time" =>
        CounterState.round6(CounterState.percentileCont(
          present.map(_.v).sorted.toIndexedSeq, q.get))
      case "stddev_over_time" | "stdvar_over_time" =>
        // Tsdb.overTimeOnFrame's micro-spread double op order
        val ms = present.map(v => math.round(v.v * 1e6))
        val n = ms.size.toDouble
        val meanM = ms.sum.toDouble / n
        val stdvar =
          (ms.map(m => BigInt(m) * BigInt(m)).sum.toDouble / n -
            meanM * meanM) / 1e12
        CounterState.floorR6(
          if (fn == "stdvar_over_time") stdvar else math.sqrt(stdvar))
      case "mad_over_time" =>
        val sorted = present.map(_.v).sorted.toIndexedSeq
        val med = CounterState.percentileCont(sorted, 0.5)
        CounterState.floorR6(CounterState.percentileCont(
          present.map(v => math.abs(v.v - med)).sorted.toIndexedSeq, 0.5))
    })
  }

  private def alertsSubquery(
      samples: DataFrame,
      rule: Rules.AlertRule,
      s: SubqShape,
      watermark: String): Dataset[AlertEval] = {
    val spark = samples.sparkSession
    import spark.implicits._
    CounterState.events(samples, Seq(s.core.side), s.core.grouping,
        s.core.bw, watermark, shiftedBuckets = true)
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processSubq(rule, s))
  }

  /** One ring-advance step of the subquery machinery, shared by the
    * alert and recording twins: buffer/close shifted buckets
    * (CounterState), synthesize EVERY closable bucket (absent ones
    * advance the rings — an outer window can cover older present
    * inners after a key goes quiet; a long absent run fast-forwards
    * once the rings are dead), compute the inner value per eval and
    * the outer moment per window. Returns the advanced state (run
    * clock untouched — the caller's) and the closed outer evals in
    * time order. */
  private[streaming] def subqAdvance(
      s: SubqCore,
      st0: SubqSt,
      events: Iterator[CounterState.Ev],
      wmSec: Long): (SubqSt, List[(Long, Option[Double])]) = {
    val (cst, closed) = CounterState.advance(
      CounterState.St(st0.labels, st0.buf, st0.carry,
        Long.MinValue, Long.MinValue),
      events, wmSec, nSides = 1, s.bw)
    val closedMap = closed.toMap
    val irN = (s.ir / s.bw).toInt
    val orN = (s.or / s.st).toInt
    val maxClosable =
      if (wmSec == Long.MinValue / 1000 || wmSec <= 0) Long.MinValue
      else Math.floorDiv(wmSec - s.bw, s.bw) * s.bw
    var nextB = st0.nextBucket
    if (nextB == Long.MinValue)
      nextB = closed.headOption.map(_._1).getOrElse(Long.MinValue)
    var bsums = st0.bsums
    var ivals = st0.ivals
    val evals = List.newBuilder[(Long, Option[Double])]
    if (nextB != Long.MinValue && maxClosable != Long.MinValue &&
        nextB <= maxClosable) {
      val closedKeys = closed.map(_._1) // already time-sorted
      var b = nextB
      while (b <= maxClosable) {
        val ringsDead =
          !bsums.exists(_.present) && !ivals.exists(_.present)
        if (ringsDead && !closedMap.contains(b)) {
          // fast-forward across an absent run: with every ring entry
          // absent, each dataless bucket is an exact no-op (inner and
          // outer both absent, nothing emits, the run clock can't
          // advance) — jump to the next bucket that HAS data
          closedKeys.dropWhile(_ < b).headOption
            .filter(_ <= maxClosable) match {
            case Some(k) => bsums = Nil; ivals = Nil; b = k
            case None => b = maxClosable + s.bw
          }
        } else {
          val agg = closedMap.get(b).flatMap(_(0))
          bsums = (bsums :+ BSum(b, agg.map(_.sumInc)
            .getOrElse(BigDecimal(0)), agg.isDefined)).takeRight(irN)
          val e = b + s.bw
          // evals live on the st grid; with bw < st (a non-divisible
          // ir) the in-between bucket closes only advance the inner
          // ring. Buckets are absolute-aligned, st % bw == 0, so every
          // st multiple IS a bucket close.
          if (Math.floorMod(e, s.st) == 0L) {
            val presentSum = bsums.filter(_.present)
            val iv =
              if (presentSum.isEmpty) IVal(e, 0.0, present = false)
              else {
                val inc = presentSum.map(_.sum).sum.toDouble
                val v =
                  if (s.side.fn == "rate") CounterState.floorR6(inc / s.ir)
                  else inc
                IVal(e, v, present = true)
              }
            ivals = (ivals :+ iv).takeRight(orN)
            evals += e -> subqOuter(s.outer, s.q, ivals)
          }
          b += s.bw
        }
      }
      nextB = maxClosable + s.bw
    }
    (SubqSt(cst.labels, cst.buf, cst.carry, nextB, bsums, ivals,
      st0.lastActive, st0.runStart), evals.result())
  }

  /** The non-run-clock deadlines of the subquery state: open buckets,
    * carry horizon, and LIVE ring entries (an outer window can fire up
    * to `or` past the newest present inner). */
  private[streaming] def subqDeadlines(
      s: SubqCore, st: SubqSt): List[Long] =
    List(
      st.buf.map(_.bucket + s.bw).minOption,
      CounterState.nextCarryDeadline(st.carry),
      if ((st.bsums.exists(_.present) || st.ivals.exists(_.present)) &&
          st.nextBucket != Long.MinValue)
        Some(st.nextBucket + s.bw)
      else None).flatten

  private def processSubq(rule: Rules.AlertRule, s: SubqShape)(
      key: String,
      events: Iterator[CounterState.Ev],
      state: GroupState[SubqSt]): Iterator[AlertEval] = {
    val wmSec = state.getCurrentWatermarkMs() / 1000
    val st0 = state.getOption.getOrElse(EmptySubqSt)
    val (adv, evals) = subqAdvance(s.core, st0, events, wmSec)
    val out = List.newBuilder[AlertEval]
    val (la, rs) = emitRuns(rule, s.core.st, s.cmp, s.thr, adv.labels,
      evals, out, st0.lastActive, st0.runStart)
    val stN = adv.copy(lastActive = la, runStart = rs)
    val deadlines = subqDeadlines(s.core, stN) ++
      (if (la != Long.MinValue && wmSec < la + 2 * s.core.st)
        List(la + 2 * s.core.st)
      else Nil)
    if (deadlines.nonEmpty) {
      state.update(stN)
      state.setTimeoutTimestamp(math.max(deadlines.min, wmSec + 1) * 1000)
    } else if (state.exists) state.remove()
    out.result().iterator
  }
}
