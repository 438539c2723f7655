package graft.streaming

import java.sql.Timestamp

/** Shared counter-semantics bucket accumulation for the streaming rules
  * engine — the per-series reset-aware state behind
  * `sum by (l) (rate(errors[5m])) > thr` in [[AlertStream]] and the
  * counter recording forms in [[RecordStream]].
  *
  * The batch twin ([[graft.Tsdb.counterSeries]] then
  * [[graft.Tsdb.counterAggregate]]) computes, per series (sid), a lag
  * window ordered by (ts, value) over the WHOLE query range, keeps
  * reset-adjusted positive deltas (`v >= prev ? v - prev : v` — a drop
  * contributes the restarted counter's new value), assigns each delta to
  * the CURRENT row's step bucket, and aggregates across series. Three
  * consequences the streaming state must reproduce exactly:
  *
  *  1. a series' FIRST sample in the range produces no delta (lag NULL);
  *  2. the previous sample may live in an EARLIER bucket (or several
  *     buckets back, across a gap) — so the last sample of every series
  *     must be carried across bucket closes;
  *  3. delta arithmetic happens in decimal(18,2) (order-free, oracle
  *     exact), and a non-finite sample casts to NULL — which drops its
  *     own delta AND the next sample's (its lag is the NULL), exactly
  *     Spark's cast-then-lag behavior.
  *
  * State per group key: the carry map (one entry per live (side, series)
  * — bounded by series cardinality, NOT stream length; entries quiet
  * past [[carryHorizonSec]] are purged) plus the raw samples of OPEN
  * buckets only (bounded by the watermark horizon: lateness/step + 1
  * buckets of one step's samples). Buckets close in time order when the
  * event-time watermark passes their end, so every delta sees exactly
  * the samples the batch lag would.
  */
object CounterState {

  /** Carry entries for series whose last sample is older than this are
    * dropped at the next close cycle — after that, a returning series'
    * first delta is dropped as if it were new (the documented divergence
    * from the batch lag, which spans any gap inside its query range). */
  val DefaultCarryHorizonSec: Long = 32L * 86400

  /** One side of a counter rule: the selector plus the cross-series
    * moment (`sum`/`avg`/`min`/`max`/`count`, or `quantile` with `q` —
    * the SLO family) and the counter function (`rate` divides by the
    * step and rounds to 6; `increase` is raw). */
  final case class Side(
      metric: String,
      matchers: Seq[graft.model.LabelMatcher],
      op: String,
      fn: String,
      q: Option[Double] = None)

  /** Event row: `series` is the batch engine's own sid (xxhash64 of the
    * canonical folded label set,
    * [[graft.functions.LabelFunctions.sidOf]]) so the lag partitioning
    * — including any theoretical hash collision — matches the batch
    * plan bit for bit. `tsec` is the truncated epoch second
    * the batch grid sorts and buckets on. */
  final case class Ev(
      key: String, labels: Map[String, String], series: String,
      ts: Timestamp, tsec: Long, bucket: Long, side: Int, value: Double)
      extends LiveCore.Keyed

  /** One buffered raw sample of an open bucket. */
  final case class Buf(
      bucket: Long, side: Int, series: String, tsec: Long, value: Double)

  /** The cross-series aggregate of one (bucket, side): per-series
    * reset-adjusted increases, pre-reduced to the moments every
    * consumer needs (decimal-exact sum/min/max + the series count),
    * plus the sorted per-series increase list itself for the quantile
    * moment — transient (computed at close, never persisted), so its
    * size is bounded by the series contributing to ONE bucket. */
  final case class SideAgg(
      nSeries: Long, sumInc: BigDecimal, minInc: BigDecimal,
      maxInc: BigDecimal, incs: List[BigDecimal])

  /** The streaming rules' one `cast(v as decimal(18,2))`: HALF_UP to
    * scale 2; None (the cast's NULL) for a non-finite sample, and for
    * one whose result exceeds precision 18. The ANSI batch plan (this
    * engine's default) HARD-FAILS the whole query on such an overflow;
    * a long-running rule stream must survive one poisoned sample, so
    * the streaming side degrades to the non-ANSI NULL semantics
    * instead — the only intentional divergence from the batch twins,
    * pinned in StreamingSpec (the CounterState unit test and the gauge
    * alert overflow case). */
  private[streaming] def dec2(v: Double): Option[BigDecimal] =
    if (v.isNaN || v.isInfinite) None
    else {
      val d = java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP)
      if (d.precision > 18) None else Some(BigDecimal(d))
    }

  /** Spark's `round(col, 6)` on a double: HALF_UP on the decimal
    * rendering, specials pass through (Catalyst Round checks them
    * first). */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The SLIDING family's tie-free 6-decimal quantization —
    * `floor(x*1e6 + 0.5)/1e6` in the exact IEEE op order the sliding
    * [[graft.Tsdb.counterAggregate]] and the DuckDB mirrors share
    * (Spark round() is BigDecimal HALF_UP, DuckDB round() is float
    * half-away; they diverge on exact-.5 products). Specials pass
    * through like [[round6]]. */
  def floorR6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else math.floor(x * 1e6 + 0.5) / 1e6

  /** Spark's Percentile.getPercentile on pre-sorted doubles: position
    * (n-1)*q, linear interpolation in Spark's exact operation order
    * `(hi - pos) * lower + (pos - lo) * higher` (NOT lo + frac*(hi-lo),
    * which rounds differently at the ulp). */
  def percentileCont(sorted: IndexedSeq[Double], q: Double): Double = {
    val pos = (sorted.length - 1) * q
    val lower = math.floor(pos).toInt
    val higher = math.ceil(pos).toInt
    if (higher == lower) sorted(lower)
    else (higher - pos) * sorted(lower) + (pos - lower) * sorted(higher)
  }

  /** The value column the batch compiler exposes for
    * `<op> by (l) (<fn>(m[step]))` — the value column
    * [[graft.promql.PromQL]]'s compile sets on that shape's vector
    * (`counterValue`): sum→increase/rate_per_sec, count→n_series,
    * avg/min/max→*_increase or round6(*_increase/step),
    * quantile→q_increase/q_rate (both rounded, the tumbling
    * [[graft.Tsdb.counterAggregate]] quantile's convention). Double conversions happen at exactly the batch
    * plan's points (decimal sum cast double BEFORE the avg division;
    * per-series increases cast double BEFORE the percentile). */
  def moment(side: Side, step: Long, a: SideAgg): Double = {
    val inc: Double = side.op match {
      case "sum" => a.sumInc.toDouble
      case "count" => return a.nSeries.toDouble
      case "avg" => a.sumInc.toDouble / a.nSeries
      case "min" => a.minInc.toDouble
      case "max" => a.maxInc.toDouble
      case "quantile" =>
        val p = percentileCont(
          a.incs.map(_.toDouble).sorted.toIndexedSeq, side.q.get)
        return if (side.fn == "rate") round6(p / step) else round6(p)
    }
    if (side.fn == "rate") round6(inc / step) else inc
  }

  /** PromQL's vector-match arithmetic with the batch compiler's exact
    * rounding ([[graft.promql.PromQL]]'s arith): `/` rounds to 6
    * decimals, NaN/Inf pass through ([[round6]] already does). */
  def arith(aop: String, a: Double, b: Double): Double = aop match {
    case "/" => round6(a / b)
    case "*" => a * b
    case "+" => a + b
    case "-" => a - b
  }

  /** One closed bucket's rule value from its side moments, vector-
    * matched with the batch INNER-join semantics — an absent side (no
    * contributing series or sample) drops the bucket's row entirely (no
    * row in the batch frame). `aop` present means the two-metric
    * arithmetic form. */
  def matched(aop: Option[String], ms: Seq[Option[Double]])
      : Option[Double] = {
    val vs = ms.flatten
    if (vs.size < ms.size) None
    else Some(aop.fold(vs.head)(arith(_, vs(0), vs(1))))
  }

  private def carryKey(side: Int, series: String): String =
    s"$side\u0000$series"

  /** One carry entry: a series' last finite sample — its truncated
    * epoch second (for the horizon purge) and its decimal(18,2)-cast
    * value (the next delta's lag). Public for Catalyst's generated
    * (de)serializers; the BigDecimal round-trips through the state
    * store's Decimal(38,18), which holds every scale-2 value with
    * precision <= 18 exactly. */
  final case class Carry(tsec: Long, v: BigDecimal)

  /** Close every buffered bucket the watermark has passed, in time
    * order, computing each (bucket, side)'s cross-series counter
    * aggregate with the carry map advanced sample by sample — the
    * streaming replay of the batch lag. Returns the closed buckets
    * (None for a side with no contributing series — no row in the
    * batch frame, vector-match inactive), the surviving open buffer,
    * and the updated carry map (horizon-purged).
    *
    * `last` maps carryKey (side NUL series) → [[Carry]]. A series
    * whose latest sample was non-finite has NO entry (cast NULL = lag
    * NULL for the next sample — identical effect to never-seen, so
    * one representation serves both).
    */
  def close(
      buf: List[Buf],
      last: Map[String, Carry],
      nSides: Int,
      step: Long,
      wmSec: Long,
      carryHorizonSec: Long = DefaultCarryHorizonSec)
      : (List[(Long, Vector[Option[SideAgg]])], List[Buf],
         Map[String, Carry]) = {
    val (closedBuf, openBuf) = buf.partition(_.bucket + step <= wmSec)
    var carry = last
    val closed = closedBuf.groupBy(_.bucket).toList.sortBy(_._1)
      .map { case (bucket, rows) =>
        val sides = Vector.tabulate(nSides) { side =>
          var nSeries = 0L
          var sumInc = BigDecimal(0)
          var minInc: BigDecimal = null
          var maxInc: BigDecimal = null
          val incs = List.newBuilder[BigDecimal]
          rows.filter(_.side == side).groupBy(_.series).foreach {
            case (series, ss) =>
              // the batch window order: (ts, value), NaN greatest —
              // IEEE total order, Spark's sort semantics
              val sorted = ss.sortBy(s => (s.tsec, s.value))(
                Ordering.Tuple2(Ordering.Long,
                  Ordering.Double.TotalOrdering))
              val ck = carryKey(side, series)
              var prev: Option[BigDecimal] = carry.get(ck).map(_.v)
              var inc: BigDecimal = null
              sorted.foreach { s =>
                dec2(s.value) match {
                  case None =>
                    // cast NULL (non-finite, or decimal(18,2) overflow
                    // — Spark's non-ANSI overflow-to-NULL): own delta
                    // dropped, next sample's lag is NULL too —
                    // represented as no carry entry
                    prev = None
                    carry -= ck
                  case Some(v) =>
                    prev match {
                      case Some(p) =>
                        val d = if (v >= p) v - p else v
                        inc = if (inc == null) d else inc + d
                      case None => // first sample / after NULL: no delta
                    }
                    prev = Some(v)
                    carry = carry.updated(ck, Carry(s.tsec, v))
                }
              }
              if (inc != null) {
                nSeries += 1
                sumInc += inc
                if (minInc == null || inc < minInc) minInc = inc
                if (maxInc == null || inc > maxInc) maxInc = inc
                incs += inc
              }
          }
          // sorted: groupBy iteration order is map-dependent — a
          // deterministic list keeps SideAgg equality-comparable
          if (nSeries > 0) Some(SideAgg(nSeries, sumInc, minInc, maxInc,
            incs.result().sorted))
          else None
        }
        bucket -> sides
      }
    // purge carries quiet past the horizon — state stays bounded by the
    // LIVE series count, never by history
    if (wmSec > Long.MinValue)
      carry = carry.filter { case (_, e) =>
        e.tsec + carryHorizonSec >= wmSec
      }
    (closed, openBuf, carry)
  }

  /** The per-key state both consumers persist: open-bucket samples +
    * the carry map + the alert path's run clock (the record path keeps
    * the clock at MinValue). Public for Catalyst's generated
    * (de)serializers, like [[LiveCore.GaugeSt]]. */
  final case class St(
      labels: Map[String, String],
      buf: List[Buf],
      carry: Map[String, Carry],
      lastActive: Long,
      runStart: Long) extends LiveCore.Clocked[St] {
    def clocked(la: Long, rs: Long): St = copy(lastActive = la, runStart = rs)
  }

  val EmptySt: St = St(Map.empty, Nil, Map.empty, Long.MinValue,
    Long.MinValue)

  /** The counter step of every counter-state rule kind: drop events
    * behind the watermark (a closed bucket never reopens — same
    * lateness rule as the gauge step), buffer the rest, close every
    * bucket the watermark has passed. Returns the advanced state (open
    * buffer + purged carry; the run clock is the CALLER's to advance),
    * the closed buckets in time order and the state's deadlines: the
    * earliest open bucket's close and the carry map's next horizon
    * expiry. */
  def advance(
      st0: St,
      events: Iterator[Ev],
      wmSec: Long,
      nSides: Int,
      step: Long,
      carryHorizonSec: Long = DefaultCarryHorizonSec)
      : (St, List[(Long, Vector[Option[SideAgg]])], List[Long]) = {
    var st = st0
    val evs = events.toSeq.filter(e => e.bucket + step > wmSec)
    if (evs.nonEmpty && st.labels.isEmpty)
      st = st.copy(labels = evs.head.labels)
    val buf = st.buf ++ evs.map(e =>
      Buf(e.bucket, e.side, e.series, e.tsec, e.value))
    val (closed, open, carry) =
      close(buf, st.carry, nSides, step, wmSec, carryHorizonSec)
    (st.copy(buf = open, carry = carry), closed,
      (open.map(_.bucket + step).minOption ++
        nextCarryDeadline(carry, carryHorizonSec)).toList)
  }

  /** Earliest wakeup the carry map still needs: the soonest horizon
    * expiry, so a quiet key purges itself instead of holding state
    * forever. None when no carries remain. */
  def nextCarryDeadline(
      last: Map[String, Carry],
      carryHorizonSec: Long = DefaultCarryHorizonSec): Option[Long] =
    if (last.isEmpty) None
    else Some(last.values.map(_.tsec).min + carryHorizonSec)
}
