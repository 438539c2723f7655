package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.Tsdb
import graft.functions.LabelFunctions
import graft.model.LabelMatcher
import graft.promql.PromQL

/** The value expression of a live rule, recognized ONCE ([[LiveCore.coreOf]])
  * and read by both streaming twins: an alert is `<core> <cmp> <number>`
  * ([[AlertStream]]), a recording rule is the bare core ([[RecordStream]]).
  * `step` is the evaluation grid: the bucket width, or a subquery's outer
  * step. */
private[graft] sealed trait LiveCore {
  def grouping: Grouping
  def step: Long
}

private[graft] object LiveCore {

  /** One gauge side: a plain ranged selector and its cross-series
    * moment. */
  final case class GaugeSide(
      metric: String, matchers: Seq[LabelMatcher], op: String)

  /** `<moment> by|without (l) (m[step])`, or two such sides under an
    * arithmetic `aop` — the `errors / requests` family. `without` groups
    * each row by its OWN labels minus the excluded keys
    * ([[Grouping.Without]]), the batch-equivalent per-series resolution
    * that needs no label-key universe. */
  final case class Gauge(
      sides: Seq[GaugeSide],
      grouping: Grouping,
      aop: Option[String],
      step: Long) extends LiveCore

  /** The counter twin of [[Gauge]]: `<moment> by (l)
    * (rate|increase(m[step]))` sides ([[CounterState.Side]]s), one or two
    * under `aop`. */
  final case class Counter(
      sides: Seq[CounterState.Side],
      grouping: Grouping,
      aop: Option[String],
      step: Long) extends LiveCore

  /** `histogram_quantile(phi, sum by (le, l…) (rate(bucket[step])))`:
    * one CounterState side per le bound (matcher le="bound"), grouping at
    * the (by ∖ le) grain, so one stateful operator carries every bucket
    * series' counter state and each closed bucket hands the per-bound
    * cumulative rates to an in-state [[bucketQuantile]]. The bound
    * universe comes up front (`histBuckets`) — a stream cannot scan the
    * le label domain. */
  final case class Hist(
      sides: Seq[CounterState.Side],
      bounds: IndexedSeq[Double],
      grouping: Grouping,
      phi: Double,
      step: Long) extends LiveCore

  /** `fn_over_time(rate|increase(m[ir]) by (l) [or:st])` (or the
    * canonical `sum by (l)(rate(m[ir]))` inner spelling), and the
    * sliding-selector form `rate(m[ir:st]) by (l)` as a single-entry
    * outer window (or = st, last_over_time).
    *
    * Why it decomposes exactly: the batch inner leg attributes each
    * per-series reset-adjusted delta (at sample time ts) to every inner
    * eval point E with ts ∈ (E−ir, E]. Bucketing samples by the SHIFTED
    * convention (B holds ts ∈ (B, B+bw]) makes every delta in bucket B
    * contribute to exactly the evals {B+bw, …, B+ir}. `bw` = gcd(ir, st),
    * so every eval point and window edge is a bucket close and inner(E)
    * is the sum of the last ir/bw closed bucket sums; the outer window
    * (T−or, T] is the last or/st inner values. State per key:
    * O(ir/bw + or/st), bounded by [[MaxInnerRing]]. */
  final case class Subq(
      side: CounterState.Side,
      grouping: Grouping,
      outer: String,
      ir: Long,
      or: Long,
      st: Long,
      bw: Long,
      q: Option[Double] = None) extends LiveCore {
    def step: Long = st
  }

  private val Moments = Set("sum", "avg", "min", "max", "count")

  /** A plain unmodified ranged selector the streaming grid can evaluate
    * — offset/@/[range:step] would silently shift batch-vs-stream. */
  private[streaming] def plain(sel: PromQL.Selector): Boolean =
    sel.rangeSec.isDefined && sel.offsetSec == 0 &&
      sel.stepSec.isEmpty && sel.atSpec.isEmpty

  /** Like [[plain]], but a [range:step] step IS the point. */
  private def sliding(sel: PromQL.Selector): Boolean =
    sel.rangeSec.isDefined && sel.stepSec.isDefined &&
      sel.offsetSec == 0 && sel.atSpec.isEmpty

  private def counterFn(fn: String): Boolean =
    fn == "rate" || fn == "increase"

  /** One moment side with its grouping clause and range. */
  private final case class Arm(
      side: Either[GaugeSide, CounterState.Side],
      by: Seq[String],
      without: Seq[String],
      range: Long)

  private def armOf(e: PromQL.Expr): Option[Arm] = e match {
    case PromQL.Agg(op, _, _, by, sel: PromQL.Selector, wo)
        if Moments(op) && plain(sel) =>
      Some(Arm(Left(GaugeSide(sel.metric, sel.matchers, op)), by, wo,
        sel.rangeSec.get))
    // a counter moment: the five plain moments, or `quantile` with its
    // parameter (the SLO family)
    case PromQL.Agg(op, _, q, by,
        PromQL.RangeFn(fn, _, sel: PromQL.Selector, Nil, _), wo)
        if (Moments(op) || (op == "quantile" && q.isDefined)) &&
          counterFn(fn) && plain(sel) =>
      Some(Arm(Right(CounterState.Side(sel.metric, sel.matchers, op, fn,
        q.filter(_ => op == "quantile"))), by, wo, sel.rangeSec.get))
    case _ => None
  }

  /** Gauge or counter arms (never a mix) under an optional `aop`. */
  private def momentsOf(arms: Seq[Arm], aop: Option[String])
      : Option[LiveCore] = {
    val g = Grouping.of(arms.head.by, arms.head.without)
    val gauges = arms.flatMap(_.side.swap.toOption)
    (gauges, arms.flatMap(_.side.toOption)) match {
      case (gs, Nil) => Some(Gauge(gs, g, aop, arms.head.range))
      case (Nil, cs) => Some(Counter(cs, g, aop, arms.head.range))
      case _ => None
    }
  }

  /** THE live-rule shape recognizer: the [[LiveCore]] of a rule's value
    * expression, or None for a shape neither twin streams. A histogram
    * core without `histBuckets` is an IllegalArgumentException. */
  def coreOf(e: PromQL.Expr, histBuckets: Seq[String]): Option[LiveCore] =
    e match {
      // two sides with matching by-lists, on() at most restating them,
      // one shared range
      case PromQL.BinOp(aop, l, r, on, false, false)
          if Set("/", "*", "+", "-")(aop) =>
        (armOf(l), armOf(r)) match {
          case (Some(a), Some(b)) if a.by.toSet == b.by.toSet &&
              a.without.toSet == b.without.toSet &&
              (on.isEmpty || on.toSet == a.by.toSet) && a.range == b.range =>
            momentsOf(Seq(a, b), Some(aop))
          case _ => None
        }
      case PromQL.HistQuantileAgg(phi,
          PromQL.Agg("sum", None, None, by,
            PromQL.RangeFn(fn, _, sel: PromQL.Selector, Nil, _), Nil))
          if counterFn(fn) && by.contains("le") && plain(sel) =>
        require(histBuckets.nonEmpty,
          "a live histogram_quantile rule needs the bucket-bound " +
          "universe up front: pass histBuckets = Seq(\"5\", …, " +
          "\"+Inf\") (a stream cannot scan the le label domain)")
        val bs = histBuckets.map(b =>
          if (b == "+Inf") Double.PositiveInfinity else b.toDouble)
        require(bs == bs.sorted,
          s"histBuckets must be ascending: $histBuckets")
        Some(Hist(histBuckets.map(b => CounterState.Side(sel.metric,
            sel.matchers :+ LabelMatcher.eq("le", b), "sum", fn)),
          bs.toIndexedSeq, Grouping.of(by.filterNot(_ == "le"), Nil), phi,
          sel.rangeSec.get))
      case _ => armOf(e).flatMap(a => momentsOf(Seq(a), None))
        .orElse(subqOf(e))
    }

  /** Cap on the inner bucket ring (ir/gcd(ir, st)): a pathological grid
    * like rate(m[3601])[6h:1h] has gcd 1 and would hold 3601 bucket
    * sums per key — reject those loudly instead of ballooning state. */
  private[streaming] val MaxInnerRing = 4096L

  private def gcd(a: Long, b: Long): Long =
    if (b == 0) a else gcd(b, a % b)

  /** The outer ring holds the full or/st inner-value window, so exact
    * quantile/spread/mad are in-state compute ([[subqOuter]]). */
  private val SubqOuters = Set("max_over_time", "min_over_time",
    "sum_over_time", "count_over_time", "avg_over_time", "last_over_time",
    "quantile_over_time", "stddev_over_time", "stdvar_over_time",
    "mad_over_time")

  /** A counter inner `rate|increase(m[ir]) by (l)` (or its canonical
    * `sum by (l)` spelling) over a selector `ok` accepts. */
  private def innerOf(e: PromQL.Expr, ok: PromQL.Selector => Boolean)
      : Option[(String, PromQL.Selector, Seq[String])] = e match {
    case PromQL.RangeFn(cf, _, sel: PromQL.Selector, by, _)
        if counterFn(cf) && by.nonEmpty && ok(sel) => Some((cf, sel, by))
    case PromQL.Agg("sum", None, None, by,
        PromQL.RangeFn(cf, _, sel: PromQL.Selector, Nil, _), Nil)
        if counterFn(cf) && by.nonEmpty && ok(sel) => Some((cf, sel, by))
    case _ => None
  }

  private def subqOf(e: PromQL.Expr): Option[Subq] = {
    def core(cf: String, sel: PromQL.Selector, by: Seq[String],
        outer: String, or: Long, st: Long, q: Option[Double]) = {
      val ir = sel.rangeSec.get
      val bw = gcd(ir, st)
      if (or % st == 0 && or >= st && ir >= bw && ir / bw <= MaxInnerRing)
        Some(Subq(CounterState.Side(sel.metric, sel.matchers, "sum", cf),
          Grouping.of(by, Nil), outer, ir, or, st, bw, q))
      else None
    }
    e match {
      // quantile_over_time carries its q in the SubqueryFn q slot; every
      // other supported outer must have it empty. A SLIDING-selector
      // inner (depth-2 nesting) is accepted when its pinned grid covers
      // the outer grid (ist | st): the inner step is value-inert under
      // the engine's raw-window convention (the batch depth-2 rule)
      case PromQL.SubqueryFn(fn, body, or, st, qv, 0L)
          if SubqOuters(fn) &&
            qv.isDefined == (fn == "quantile_over_time") =>
        innerOf(body, sel => plain(sel) ||
            (sliding(sel) && st % sel.stepSec.get == 0))
          .flatMap { case (cf, sel, by) => core(cf, sel, by, fn, or, st, qv) }
      case _ => innerOf(e, sliding).flatMap { case (cf, sel, by) =>
        core(cf, sel, by, "last_over_time", sel.stepSec.get,
          sel.stepSec.get, None)
      }
    }
  }

  // ------------------------------------------------------------------
  // State kinds: gauge buckets, counter buffer + carry (CounterState),
  // subquery rings. Each advances through ONE step returning the
  // advanced state, the closed (bucket, value) evaluations in time order
  // (None: no row — a vector-match side absent, an empty window) and the
  // wake-ups the state still needs.
  // ------------------------------------------------------------------

  type Closed = List[(Long, Option[Double])]

  /** A keyed event row (the state key groups it). */
  trait Keyed { def key: String }

  /** The labels and Prometheus `for` run clock every state kind keeps
    * (the record twin leaves the clock at Long.MinValue). */
  trait Clocked[S] {
    def labels: Map[String, String]
    def lastActive: Long
    def runStart: Long
    def clocked(lastActive: Long, runStart: Long): S
  }

  /** A twin's use of one key's step: (state, closed evaluations,
    * watermark second) → (rows to emit, advanced run clock, the clock's
    * own deadline). */
  type Twin[U] =
    (Clocked[_], Closed, Long) => (List[U], (Long, Long), Option[Long])

  /** Run `core` over a streaming samples frame `(metric, labels, ts,
    * value)`: the one stateful operator per state kind, one lifecycle
    * for all. With a deadline left the state persists and a timeout arms
    * at the earliest, so a quiet key still flushes when the watermark
    * moves; with none the key's state drops entirely. */
  def run[U: Encoder](samples: DataFrame, core: LiveCore, watermark: String)(
      twin: Twin[U]): Dataset[U] = {
    val spark = samples.sparkSession
    import spark.implicits._
    def keyed[E <: Keyed, S <: Clocked[S]: Encoder](events: Dataset[E],
        empty: S)(step: (S, Iterator[E], Long) => (S, Closed, List[Long])) =
      events.groupByKey(_.key)
        .flatMapGroupsWithState[S, U](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (_: String, evs: Iterator[E], state: GroupState[S]) =>
            val wmSec = state.getCurrentWatermarkMs() / 1000
            val (st, closed, deadlines) =
              step(state.getOption.getOrElse(empty), evs, wmSec)
            val (out, (la, rs), clock) = twin(st, closed, wmSec)
            val wake = deadlines ++ clock
            if (wake.nonEmpty) {
              state.update(st.clocked(la, rs))
              state.setTimeoutTimestamp(math.max(wake.min, wmSec + 1) * 1000)
            } else if (state.exists) state.remove()
            out.iterator
        }
    def counterEvents(sides: Seq[CounterState.Side], step: Long,
        shifted: Boolean = false) =
      events(samples, sides.map(s => (s.metric, s.matchers)), core.grouping,
        step, watermark, shifted, counter = true).as[CounterState.Ev]
    def counterStep(sides: Seq[CounterState.Side], step: Long)(
        value: Vector[Option[CounterState.SideAgg]] => Option[Double]) =
      keyed(counterEvents(sides, step), CounterState.EmptySt) {
        (st0, evs, wmSec) =>
          val (st, closed, deadlines) =
            CounterState.advance(st0, evs, wmSec, sides.size, step)
          (st, closed.map { case (b, aggs) => b -> value(aggs) }, deadlines)
      }
    core match {
      case g: Gauge =>
        keyed(events(samples, g.sides.map(s => (s.metric, s.matchers)),
          g.grouping, g.step, watermark, shifted = false, counter = false)
          .as[GaugeEv], EmptyGaugeSt)(gaugeStep(g))
      case c: Counter =>
        counterStep(c.sides, c.step)(aggs => CounterState.matched(c.aop,
          c.sides.zip(aggs).map { case (s, a) =>
            a.map(CounterState.moment(s, c.step, _)) }))
      case h: Hist =>
        counterStep(h.sides, h.step)(aggs => bucketQuantile(h.bounds,
          h.sides.zip(aggs).map { case (s, a) =>
            a.map(CounterState.moment(s, h.step, _)) }.toIndexedSeq, h.phi))
      case s: Subq =>
        keyed(counterEvents(Seq(s.side), s.bw, shifted = true),
          EmptySubqSt)(subqStep(s))
    }
  }

  /** Project a streaming samples frame into keyed events of the given
    * selectors. Selectors may overlap (the `errors{code="500"} / errors`
    * idiom): a row contributes to every side it matches, via an exploded
    * side array — never an either/or branch.
    *
    * Watermark placement: the EventTimeWatermark node sits ABOVE the
    * side filter, so ONLY rows matching some side advance the global
    * watermark — a stream carrying unrelated metrics never closes this
    * rule's buckets by itself. Test replays (and heartbeat events) must
    * therefore match a side; the histogram path's per-`le` sides make
    * this bite (a flush event without an `le` label is filtered before
    * the watermark node and closes nothing).
    *
    * The tumbling convention buckets [B, B+step) (the batch bucket
    * grid); the SHIFTED convention buckets (B, B+step], whose unions are
    * the sliding windows `(E−range, E]` of the subquery family. A counter
    * event carries its series — the batch engine's own sid (the same
    * normalize+fold+hash, [[LabelFunctions.sidOf]], so the lag
    * partitioning matches the batch plan bit for bit) — and the
    * truncated epoch second the batch grid sorts on. */
  private def events(
      samples: DataFrame,
      selectors: Seq[(String, Seq[LabelMatcher])],
      grouping: Grouping,
      step: Long,
      watermark: String,
      shifted: Boolean,
      counter: Boolean): DataFrame = {
    val preds = selectors.map { case (m, ms) =>
      col("metric") === m && Tsdb.matcherPredicate(col("labels"), ms) }
    val tsec = col("ts").cast("long")
    val bucket =
      if (shifted) (tsec - 1) - pmod(tsec - 1, lit(step))
      else tsec - pmod(tsec, lit(step))
    val series =
      if (!counter) Nil
      else Seq(LabelFunctions.sidOf(LabelFunctions.foldMetric(col("metric"),
          LabelFunctions.normalizeLabels(col("labels"))))
        .cast("string").as("series"), tsec.as("tsec"))
    samples
      .where(preds.reduce(_ || _))
      .withWatermark("ts", watermark)
      .select(Seq(grouping.keyCol(col("labels")).as("key"),
        grouping.labelsCol(col("labels")).as("labels")) ++ series ++ Seq(
        col("ts"), bucket.as("bucket"),
        explode(array(preds.zipWithIndex.map { case (p, i) =>
          when(p, i) }: _*)).as("side"),
        col("value").cast("double").as("value")): _*)
      .where(col("side").isNotNull)
  }

  /** Gauge event/state shapes — public for Catalyst's generated
    * (de)serializers. A bucket holds one [[Acc]] per side. */
  final case class GaugeEv(
      key: String, labels: Map[String, String], ts: Timestamp,
      bucket: Long, side: Int, value: Double) extends Keyed
  final case class Acc(n: Long, sum: BigDecimal, mn: Double, mx: Double)
  final case class GaugeBucket(bucket: Long, sides: Seq[Acc])
  final case class GaugeSt(
      labels: Map[String, String],
      open: List[GaugeBucket],
      lastActive: Long,
      runStart: Long) extends Clocked[GaugeSt] {
    def clocked(la: Long, rs: Long): GaugeSt =
      copy(lastActive = la, runStart = rs)
  }

  private val EmptyGaugeSt =
    GaugeSt(Map.empty, Nil, Long.MinValue, Long.MinValue)

  private def gaugeMoment(op: String, a: Acc): Double = op match {
    case "sum" => a.sum.toDouble
    // divide AFTER the double conversion — the batch avg_v is an IEEE
    // division of the double-cast decimal sum (Tsdb.gaugeAggregate), and a
    // BigDecimal division would round differently at the ulp
    case "avg" => a.sum.toDouble / a.n
    case "count" => a.n.toDouble
    case "min" => a.mn
    case "max" => a.mx
  }

  /** The gauge step: merge the events into their open buckets, close
    * every bucket the watermark has passed. Rows behind the watermark
    * are dropped (flatMapGroupsWithState does NOT auto-filter them the
    * way a streaming aggregation does) — a closed bucket never reopens,
    * like the batch twin. Sums accumulate the batch twin's
    * `cast("decimal(18,2)")` ([[CounterState.dec2]]: a non-finite or
    * overflowing sample adds nothing but counts in `n`), so values are
    * bit-equal to the batch rule's and order-free. The vector match is
    * an INNER join: a bucket with a side absent evaluates to no row. */
  private def gaugeStep(g: Gauge)(
      st0: GaugeSt, events: Iterator[GaugeEv], wmSec: Long)
      : (GaugeSt, Closed, List[Long]) = {
    val evs = events.toSeq.filter(e => e.bucket + g.step > wmSec)
    val labels = if (st0.labels.isEmpty && evs.nonEmpty) evs.head.labels
      else st0.labels
    val zero = GaugeBucket(0L, g.sides.map(_ =>
      Acc(0L, BigDecimal(0), Double.MaxValue, Double.MinValue)))
    val merged = evs.foldLeft(st0.open.map(b => b.bucket -> b).toMap) {
      (acc, e) =>
        val b = acc.getOrElse(e.bucket, zero.copy(bucket = e.bucket))
        val a = b.sides(e.side)
        // min skips NaN like Spark's aggregate (NaN sorts ABOVE all
        // doubles there, so it never wins a min); max keeps Java's
        // natural NaN propagation, which IS Spark's max
        val sum = a.sum + CounterState.dec2(e.value).getOrElse(BigDecimal(0))
        acc.updated(e.bucket, b.copy(sides = b.sides.updated(e.side,
          Acc(a.n + 1, sum,
            if (e.value.isNaN) a.mn else math.min(a.mn, e.value),
            math.max(a.mx, e.value)))))
    }
    val (closed, open) = merged.values.toList.sortBy(_.bucket)
      .partition(_.bucket + g.step <= wmSec)
    (st0.copy(labels = labels, open = open),
      closed.map(b => b.bucket -> CounterState.matched(g.aop,
        g.sides.zip(b.sides).map { case (s, a) =>
          Some(a).filter(_.n > 0).map(gaugeMoment(s.op, _)) })),
      open.map(_.bucket + g.step).minOption.toList)
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
      runStart: Long) extends Clocked[SubqSt] {
    def clocked(la: Long, rs: Long): SubqSt =
      copy(lastActive = la, runStart = rs)
  }

  private val EmptySubqSt = SubqSt(Map.empty, Nil, Map.empty,
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

  /** The subquery step: buffer/close shifted buckets (CounterState),
    * synthesize EVERY closable bucket (absent ones advance the rings —
    * an outer window can cover older present inners after a key goes
    * quiet; a long absent run fast-forwards once the rings are dead),
    * compute the inner value per eval and the outer moment per window.
    * Deadlines: open buckets, carry horizon, and LIVE ring entries (an
    * outer window can fire up to `or` past the newest present inner). */
  private def subqStep(s: Subq)(
      st0: SubqSt, events: Iterator[CounterState.Ev], wmSec: Long)
      : (SubqSt, Closed, List[Long]) = {
    val (cst, closed, counterDeadlines) = CounterState.advance(
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
    val live = (bsums.exists(_.present) || ivals.exists(_.present)) &&
      nextB != Long.MinValue
    (SubqSt(cst.labels, cst.buf, cst.carry, nextB, bsums, ivals,
        st0.lastActive, st0.runStart), evals.result(),
      counterDeadlines ++ Some(nextB + s.bw).filter(_ => live))
  }
}
