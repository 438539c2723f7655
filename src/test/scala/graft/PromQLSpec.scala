package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.LabelMatcher
import graft.promql.PromQL

/** The PromQL string front-end must be a pure re-expression of the direct
  * operator API: for every supported shape, parse-and-run returns EXACTLY
  * the direct call's rows (same columns, same values). That equality is
  * the whole correctness argument — the compiler adds no execution paths,
  * so the operators' oracle checks transfer to every compiled string.
  */
class PromQLSpec extends SparkSuite {

  private lazy val events: DataFrame = {
    val t = graft.sources.Tables.events(spark, sf0001)
    t.select(
      col("event_type").as("metric"),
      map(
        lit("user_id"), col("user_id").cast("string"),
        lit("cohort"), pmod(col("user_id"), lit(10)).cast("string"))
        .as("labels"),
      col("ts_s").as("ts"),
      col("value"))
  }
  private lazy val t: Tsdb = Tsdb.attach(spark, events)
  private val T0 = 1704412800L
  private val T1 = 1705017599L

  private def assertSame(byString: DataFrame, direct: DataFrame): Unit = {
    assert(byString.columns.toSeq == direct.columns.toSeq,
      s"columns: ${byString.columns.toSeq} vs ${direct.columns.toSeq}")
    val cols = byString.schema.fields.filterNot(
      _.dataType.typeName == "map").map(f => col(f.name)).toSeq
    val a = byString.orderBy(cols: _*).collect().toSeq
    val b = direct.orderBy(cols: _*).collect().toSeq
    assert(a == b, s"rows differ: ${a.take(3)} vs ${b.take(3)}")
  }

  /** The exact decimal per-series increases of the bare
    * `increase(click[1h])`, regrouped on the driver to (cohort,
    * bucket_start): every series with a delta in the bucket. */
  private lazy val incByCohort: Map[(String, Long), Seq[BigDecimal]] =
    PromQL.query(t, "increase(click[1h])", T0, T1)
      .select("cohort", "bucket_start", "increase").collect().toSeq
      .groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.map(r => BigDecimal(r.getDouble(2))) }

  /** Spark's `percentile`: linear interpolation between the order
    * statistics around position p·(n − 1), in its op order. */
  private def percentileOf(vs: Seq[Double], p: Double): Double = {
    val s = vs.sorted
    val pos = p * (s.length - 1)
    val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
    if (lo == hi || s(lo) == s(hi)) s(lo)
    else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The engine's tie-free floor-r6 rounding. */
  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  // ---- driver-side replays of the gauge family's documented rules ----

  /** A raw sample: (first label, second label, ts, exact value). */
  private type Sample = (String, String, Long, BigDecimal)

  /** A metric's samples as (cohort, user_id, ts, value), one day of
    * lookback before T0 included. */
  private def samplesOf(metric: String): Seq[Sample] =
    t.queryRange(metric, Seq.empty, T0 - 86400L, T1)
      .select(col("labels")("cohort"), col("labels")("user_id"), col("ts"),
        col("value"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDouble(3))))

  private lazy val clicks: Seq[Sample] = samplesOf("click")
  private lazy val purchases: Seq[Sample] = samplesOf("purchase")

  /** The eval grid: the multiples of `st` within [lo, hi]. */
  private def evalPoints(lo: Long, hi: Long, st: Long): Seq[Long] =
    (Math.floorDiv(lo + st - 1, st) * st).to(Math.floorDiv(hi, st) * st, st)

  /** The tumbling rule: each sample of the scan [start − o, end − o] in
    * its bucket ts − ts mod step, reported o forward; grouped by `key`
    * then the bucket. */
  private def bucketed(ss: Seq[Sample], start: Long, end: Long, step: Long,
      o: Long = 0L)(key: Sample => Seq[Any]): Map[Seq[Any], Seq[Sample]] =
    ss.filter(s => s._3 >= start - o && s._3 <= end - o)
      .groupBy(s => key(s) :+ (s._3 - Math.floorMod(s._3, step) + o))

  /** The sliding rule: at each eval point E of [start − o, end − o]
    * every `step`, the samples with E − range < ts ≤ E, grouped by `key`
    * then E + o. */
  private def windowed(ss: Seq[Sample], start: Long, end: Long, step: Long,
      range: Long, o: Long = 0L)(key: Sample => Seq[Any])
      : Seq[(Seq[Any], Seq[Sample])] =
    for {
      e <- evalPoints(start - o, end - o, step)
      (k, in) <- ss.filter(s => s._3 > e - range && s._3 <= e)
        .groupBy(key).toSeq
    } yield (k :+ (e + o), in)

  /** The gauge moments `n, sum_v, avg_v, min_v, max_v`: an exact decimal
    * sum, then Spark's double division. */
  private def moments(ss: Seq[Sample]): Seq[Any] = {
    val vs = ss.map(_._4)
    Seq(vs.size.toLong, vs.sum.toDouble, vs.sum.toDouble / vs.size,
      vs.min.toDouble, vs.max.toDouble)
  }

  /** The moments of `ss` per `key` and tumbling bucket over [start, T1]. */
  private def momentsBy(ss: Seq[Sample], step: Long, start: Long = T0,
      o: Long = 0L)(key: Sample => Seq[Any]): Map[Seq[Any], Seq[Any]] =
    bucketed(ss, start, T1, step, o)(key).map { case (k, g) => k -> moments(g) }

  /** Moment `m` (n, sum_v, avg_v, min_v or max_v) of a moments row, as
    * the double a vector match reads. */
  private def momentOf(ms: Seq[Any], m: String): Double =
    ms(Seq("n", "sum_v", "avg_v", "min_v", "max_v").indexOf(m)) match {
      case n: Long => n.toDouble
      case d: Double => d
    }

  /** The engine's ratio: round(a / b, 6), and a · +Inf on a zero
    * denominator. */
  private def ratio6(a: Double, b: Double): Double =
    if (b == 0.0) a * Double.PositiveInfinity else round6(a / b)

  /** A vector match replayed over two moments maps: each row of the
    * many side (`a`, or `b` when `right`) meets the one-side row at
    * `oneKey` of its key, giving its key, n_a, n_b, sum_a, sum_b and
    * f(sum_a, sum_b) — the match's columns in order — as a multiset. */
  private def matchReplay(a: Map[Seq[Any], Seq[Any]],
      b: Map[Seq[Any], Seq[Any]], ma: String = "sum_v", mb: String = "sum_v",
      right: Boolean = false)(oneKey: Seq[Any] => Seq[Any])(
      f: (Double, Double) => Double): Map[Seq[Any], Int] = {
    val (many, one) = if (right) (b, a) else (a, b)
    bag(many.toSeq.flatMap { case (k, vm) => one.get(oneKey(k)).map { vo =>
      val (va, vb) = if (right) (vo, vm) else (vm, vo)
      val (x, y) = (momentOf(va, ma), momentOf(vb, mb))
      k ++ Seq(va(0), vb(0), x, y, f(x, y))
    } })
  }

  /** The one-to-one `f(sum by (cohort) (a[1h]), sum by (cohort) (b[1h]))`
    * called through the stages directly: (a) and (b) per side, then the
    * match, stage (c). */
  private def stageMatch(a: String, b: String)(
      f: (Column, Column) => Column): DataFrame = {
    def side(metric: String, s: String) =
      Tsdb.gaugeAggregate(t.windowedSamples(metric, Seq.empty, T0, T1,
          Seq("cohort"), 3600L, None, 0L), perSeries = false, "moments")
        .select(col("cohort"), col("bucket_start"), col("n").as(s"n_$s"),
          col("sum_v").as(s"sum_$s"))
    Tsdb.vectorMatch(side(a, "a"), side(b, "b"), Seq("cohort"), "one",
      "arith", f)
  }

  /** The columns of a moment-aggregation match. */
  private val MatchCols =
    Seq("bucket_start", "n_a", "n_b", "sum_a", "sum_b", "result")

  /** `last_v`: the newest sample, a ts tie to the larger value. */
  private def lastOf(ss: Seq[Sample]): Double =
    ss.maxBy(s => (s._3, s._4))._4.toDouble

  /** The gauge spread `n, avg_v, stdvar, stddev`: exact integer-cents
    * sums in Spark's double op order, round(…, 6). */
  private def spreadOf(ss: Seq[Sample]): Seq[Any] = {
    val cs = ss.map(s => (s._4 * 100).toLongExact)
    val n = cs.size.toDouble
    val mean = cs.sum.toDouble / n
    val sv = (cs.map(c => c * c).sum.toDouble / n - mean * mean) / 1e4
    Seq(cs.size.toLong, round6(mean / 100.0), round6(sv),
      round6(math.sqrt(sv)))
  }

  /** The gauge delta: the last minus the first sample in (ts, value)
    * order. */
  private def endpoints(ss: Seq[Sample]): Double = {
    val sorted = ss.sortBy(s => (s._3, s._4))
    (sorted.last._4 - sorted.head._4).toDouble
  }

  /** The click series' samples of [T0, T1] in (ts, value) order, per
    * series (user_id). */
  private lazy val clickSeries: Seq[Seq[Sample]] =
    clicks.filter(s => s._3 >= T0 && s._3 <= T1).groupBy(_._2).values.toSeq
      .map(_.sortBy(s => (s._3, s._4)))

  /** The counter lag's consecutive (older, newer) click pairs counted per
    * (cohort, the newer sample's 1h bucket): `cohort, bucket_start,
    * n_deltas` and the pairs where `hit(older, newer)`. */
  private def pairCounts(hit: (BigDecimal, BigDecimal) => Boolean)
      : Set[Seq[Any]] =
    clickSeries.flatMap(_.sliding(2).collect { case Seq(p, c) => (p, c) })
      .groupBy { case (_, c) => (c._1, c._3 - Math.floorMod(c._3, 3600L)) }
      .map { case ((coh, b), ps) => Seq[Any](coh, b, ps.size.toLong,
        ps.count { case (p, c) => hit(p._4, c._4) }.toLong) }.toSet

  /** The exact least-squares fit of `ss` with x = ts − `origin` and y in
    * cents, ending in the engine's two double divisions: `n`,
    * `slope_per_sec` and the value at x = `xp`; None under 2 distinct
    * timestamps. */
  private def fitOf(ss: Seq[Sample], origin: Long, xp: Long)
      : Option[Seq[Any]] = {
    val n = BigInt(ss.size)
    val xs = ss.map(s => BigInt(s._3 - origin))
    val ys = ss.map(s => (s._4 * 100).toBigInt)
    val (sx, sy) = (xs.sum, ys.sum)
    val numc = n * xs.zip(ys).map { case (x, y) => x * y }.sum - sx * sy
    val den = n * xs.map(x => x * x).sum - sx * sx
    if (n < 2 || den == 0) None
    else Some(Seq[Any](ss.size.toLong, numc.toDouble / den.toDouble / 100.0,
      (sy * den + numc * (n * xp - sx)).toDouble / (n * den).toDouble / 100.0))
  }

  /** idelta / irate of `ss`: the newest two samples in (ts, value)
    * order give `dt`, `idelta` and the reset-aware `irate` (null on a
    * zero gap); None under two samples. */
  private def lastTwoOf(ss: Seq[Sample]): Option[Seq[Any]] =
    ss.sortBy(s => (s._3, s._4)).takeRight(2) match {
      case Seq(p, c) =>
        val dt = c._3 - p._3
        val inc = if (c._4 >= p._4) c._4 - p._4 else c._4
        Some(Seq[Any](dt, (c._4 - p._4).toDouble,
          if (dt > 0) round6(inc.toDouble / dt) else null))
      case _ => None
    }

  /** md5-u32 of the salted group label, the limitk / limit_ratio hash. */
  private def groupU32(label: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(("lk" + label).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8), 16)

  /** The `sum by (cohort) (click[1h])` rows ranked per bucket by `key`
    * of (cohort, sum_v): the first k as `cohort, bucket_start, rk, n,
    * sum_v`, the topk / bottomk / limitk shape. */
  private def firstKOf(start: Long, o: Long, k: Int)(
      key: (String, Double) => (Double, String)): Set[Seq[Any]] =
    bucketed(clicks, start, T1, 3600L, o)(s => Seq(s._1)).toSeq
      .map { case (Seq(c: String, b: Long), ss) =>
        (c, b, ss.size.toLong, ss.map(_._4).sum.toDouble) }
      .groupBy(_._2).values
      .flatMap(_.sortBy(r => key(r._1, r._4)).take(k).zipWithIndex.map {
        case ((c, b, n, v), i) => Seq[Any](c, b, i + 1, n, v) })
      .toSet

  private def rowSet(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  /** The rows as a multiset: per-series outputs repeat their labels. */
  private def bag(rs: Iterable[Seq[Any]]): Map[Seq[Any], Int] =
    rs.groupBy(identity).map { case (r, same) => r -> same.size }

  private def bagOf(df: DataFrame, cols: String*): Map[Seq[Any], Int] =
    bag(df.select(cols.map(col): _*).collect().map(_.toSeq))

  /** The output columns of a label aggregation's moments. */
  private val MomentCols =
    Seq("bucket_start", "n", "sum_v", "avg_v", "min_v", "max_v")

  test("sum by (cohort) (click[1h]) == the driver-side moments replay") {
    val df = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
    assert(df.columns.toSeq == "cohort" +: MomentCols)
    assert(rowSet(df, df.columns.toSeq: _*) ==
      bucketed(clicks, T0, T1, 3600L)(s => Seq(s._1))
        .map { case (k, ss) => k ++ moments(ss) }.toSet)
  }

  test("selector with matchers and offset compiles to queryRange") {
    assertSame(
      PromQL.query(t, """click{cohort="3"}""", T0, T1),
      t.queryRange("click", Seq(LabelMatcher.eq("cohort", "3")), T0, T1))
    assert(rowSet(PromQL.query(t,
        """sum by (cohort) (click{cohort!="3"}[1h] offset 1d)""",
        T0 + 86400L, T1), "cohort" +: MomentCols: _*) ==
      bucketed(clicks.filter(_._1 != "3"), T0 + 86400L, T1, 3600L, 86400L)(
        s => Seq(s._1)).map { case (k, ss) => k ++ moments(ss) }.toSet)
  }

  test("regex matchers parse to the regex fast-path matcher") {
    assert(rowSet(PromQL.query(t,
        """sum by (cohort) (click{cohort=~"1|2"}[1h])""", T0, T1),
        "cohort" +: MomentCols: _*) ==
      bucketed(clicks.filter(s => s._1 == "1" || s._1 == "2"), T0, T1,
        3600L)(s => Seq(s._1)).map { case (k, ss) => k ++ moments(ss) }
        .toSet)
  }

  test("stddev / quantile / count_values by") {
    val hourly = bucketed(clicks, T0, T1, 3600L)(s => Seq(s._1))
    val sd = PromQL.query(t, "stddev by (cohort) (click[1h])", T0, T1)
    assert(sd.columns.toSeq ==
      Seq("cohort", "bucket_start", "n", "avg_v", "stdvar", "stddev"))
    assert(rowSet(sd, sd.columns.toSeq: _*) ==
      hourly.map { case (k, ss) => k ++ spreadOf(ss) }.toSet)
    val q = PromQL.query(t, "quantile(0.95, click[1h]) by (cohort)", T0, T1)
    assert(q.columns.toSeq == Seq("cohort", "bucket_start", "n", "q_v"))
    assert(rowSet(q, q.columns.toSeq: _*) == hourly.map { case (k, ss) =>
      k ++ Seq(ss.size.toLong,
        round6(percentileOf(ss.map(_._4.toDouble), 0.95)))
    }.toSet)
    val cv = PromQL.query(t,
      """count_values("value", click[1d]) by (cohort)""", T0, T1)
    assert(cv.columns.toSeq == Seq("cohort", "bucket_start", "value", "n"))
    assert(rowSet(cv, cv.columns.toSeq: _*) ==
      bucketed(clicks, T0, T1, 86400L)(s => Seq(s._1)).flatMap {
        case (k, ss) => ss.groupBy(_._4.toDouble).map { case (v, same) =>
          k ++ Seq(v, same.size.toLong) }
      }.toSet)
  }

  test("topk / bottomk over sum by") {
    // rank by the sum (desc / asc), ties broken on the cohort label
    val rk = Seq("cohort", "bucket_start", "rk", "n", "sum_v")
    val top = PromQL.query(t, "topk(3, sum by (cohort) (click[1h]))", T0, T1)
    assert(top.columns.toSeq == rk)
    assert(rowSet(top, rk: _*) == firstKOf(T0, 0L, 3)((c, v) => (-v, c)))
    assert(rowSet(PromQL.query(t, "bottomk(3, sum by (cohort) (click[1h]))",
      T0, T1), rk: _*) == firstKOf(T0, 0L, 3)((c, v) => (v, c)))
  }

  test("a by label named like an output column is rejected, naming both") {
    // the result would carry two such columns (Spark matches names
    // case-insensitively) and every read of one would fail as ambiguous
    import spark.implicits._
    val store = Tsdb.attach(spark, Seq(
        ("m", Map("n" -> "a", "sum_v" -> "b", "v_s" -> "a"), T0 + 10L, 1.0),
        ("m", Map("n" -> "a", "sum_v" -> "b", "v_s" -> "a"), T0 + 400L, 3.0),
        ("m", Map("n" -> "c", "sum_v" -> "d", "v_s" -> "b"), T0 + 20L, 2.0),
        ("m", Map("n" -> "c", "sum_v" -> "d", "v_s" -> "b"), T0 + 500L, 4.0))
      .toDF("metric", "labels", "ts", "value"))
    val end = T0 + 1799L
    for ((q, label, column) <- Seq(
        ("sum by (n) (rate(m[600:300]))", "n", "n"),
        ("sum by (sum_v) (m[600])", "sum_v", "sum_v"),
        ("avg by (SUM_V) (m[600])", "SUM_V", "sum_v"))) {
      val e = intercept[IllegalArgumentException](
        PromQL.query(store, q, T0, end))
      assert(e.getMessage.contains(s"by label '$label'") &&
        e.getMessage.contains(s"output column '$column'"), e.getMessage)
    }
    // the same labels group as usual where the shape has no such column
    assert(PromQL.query(store, "sum by (n) (rate(m[600]))", T0, end)
      .columns.toSeq == Seq("n", "bucket_start", "increase", "rate_per_sec"))
    assert(PromQL.query(store, "sum by (sum_v) (rate(m[600:300]))", T0, end)
      .select("sum_v").distinct().count() == 2L)
    // and a label named like an internal intermediate keeps its values
    // (the sliding counter moments name their per-series value `__v`)
    assert(PromQL.query(store,
        "max_over_time(avg by (v_s) (rate(m[600]))[600:300])", T0, end)
      .select("v_s").collect().map(_.getString(0)).toSet == Set("a", "b"))
  }

  test("counter family: rate / increase / resets under sum by") {
    // sum by (cohort) of the increase is the exact sum of the per-series
    // increases; the rate divides it by the range
    val sumBy = PromQL.query(t, "sum by (cohort) (increase(click[1h]))",
        T0, T1)
    assert(sumBy.columns.toSeq ==
      Seq("cohort", "bucket_start", "increase", "rate_per_sec"))
    assert(sumBy.collect().map(r =>
        (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap == incByCohort.map { case (k, vs) =>
        k -> (vs.sum.toDouble, round6(vs.sum.toDouble / 3600)) })
    assertSame(
      PromQL.query(t, "sum by (cohort) (rate(click[1h]))", T0, T1),
      sumBy)
    // resets: the drops between each series' consecutive samples,
    // counted per (cohort, bucket of the newer sample)
    val resets =
      PromQL.query(t, "sum by (cohort) (resets(click[1h]))", T0, T1)
    assert(resets.columns.toSeq ==
      Seq("cohort", "bucket_start", "n_deltas", "resets"))
    assert(rowSet(resets, resets.columns.toSeq: _*) == pairCounts(_ > _))
  }

  test("changes under sum by; irate/idelta per series") {
    val changes =
      PromQL.query(t, "sum by (cohort) (changes(click[1h]))", T0, T1)
    assert(changes.columns.toSeq ==
      Seq("cohort", "bucket_start", "n_deltas", "changes"))
    assert(rowSet(changes, changes.columns.toSeq: _*) == pairCounts(_ != _))
    // per (series, bucket) the newest two samples in (ts, value) order:
    // their gap, difference and reset-aware rate (null on a zero gap)
    val irate = PromQL.query(t, "irate(click[1h]) by (user_id)", T0, T1)
    assert(irate.columns.toSeq ==
      Seq("user_id", "sid", "bucket_start", "dt", "idelta", "irate"))
    assert(rowSet(irate, "user_id", "bucket_start", "dt", "idelta",
      "irate") == clickSeries.flatMap(_.groupBy(s =>
        (s._2, s._3 - Math.floorMod(s._3, 3600L))).flatMap {
          case ((u, b), ss) => lastTwoOf(ss).map(Seq[Any](u, b) ++ _) }).toSet)
    assertSame(PromQL.query(t, "idelta(click[1h]) by (user_id)", T0, T1),
      irate)
  }

  test("changes >= resets on every group (a reset is a change)") {
    val ch = PromQL.query(t, "sum by (cohort) (changes(click[1h]))", T0, T1)
      .select(col("cohort"), col("bucket_start"), col("changes"))
    val rs = PromQL.query(t, "sum by (cohort) (resets(click[1h]))", T0, T1)
      .select(col("cohort"), col("bucket_start"), col("resets"))
    val bad = ch.join(rs, Seq("cohort", "bucket_start"))
      .where(col("changes") < col("resets")).count()
    assert(bad == 0L)
  }

  test("*_over_time family and quantile_over_time") {
    // per series on the sliding grid (step = range = 30m): several
    // series share a cohort, so the rows form a multiset
    val ot = PromQL.query(t, "avg_over_time(click[30m]) by (cohort)", T0, T1)
    assert(ot.columns.toSeq == Seq("cohort", "eval_ts", "n", "sum_v",
      "avg_v", "min_v", "max_v", "last_v"))
    assert(bagOf(ot, ot.columns.toSeq: _*) ==
      bag(windowed(clicks, T0, T1, 1800L, 1800L)(s => Seq(s._1, s._2)).map {
        case (Seq(c, _, e), ss) => Seq(c, e) ++ moments(ss) :+ lastOf(ss) }))
    // quantile_over_time is the tumbling `by`-grain quantile
    assertSame(
      PromQL.query(t, "quantile_over_time(0.5, click[1h]) by (cohort)",
        T0, T1),
      PromQL.query(t, "quantile(0.5, click[1h]) by (cohort)", T0, T1))
  }

  test("limitk / limit_ratio: hash-pinned samples; negative r is the " +
      "exact complement") {
    // limitk: the k groups with the smallest md5-u32 of 'lk'||cohort;
    // limit_ratio(r): the groups whose hash is below r·2^32
    assert(rowSet(PromQL.query(t, "limitk(3, sum by (cohort) (click[1h]))",
        T0, T1), "cohort", "bucket_start", "rk", "n", "sum_v") ==
      firstKOf(T0, 0L, 3)((c, _) => (groupU32(c).toDouble, c)))
    assert(rowSet(PromQL.query(t,
        "limit_ratio(0.5, sum by (cohort) (click[1h]))", T0, T1),
        "cohort", "bucket_start", "n", "sum_v") ==
      bucketed(clicks, T0, T1, 3600L)(s => Seq(s._1)).collect {
        case (k @ Seq(c: String, _), ss) if groupU32(c) < (1L << 31) =>
          k ++ moments(ss).take(2)
      }.toSet)
    // limit_ratio(r) ∪ limit_ratio(-(1-r)) partitions the groups:
    // disjoint, and together they are exactly the unsampled aggregation
    val a = PromQL.query(t,
      "limit_ratio(0.4, sum by (cohort) (click[1h]))", T0, T1)
    val b = PromQL.query(t,
      "limit_ratio(-0.6, sum by (cohort) (click[1h]))", T0, T1)
    val all = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
    assert(a.count() + b.count() == all.count())
    assert(a.join(b, Seq("cohort", "bucket_start")).count() == 0L)
  }

  test("mad_over_time == a driver-side replay; exact MAD on a hand " +
      "fixture") {
    // median(|v − median(v)|) per (cohort, hour), Spark's interpolating
    // percentile, floor-r6 rounded
    assert(rowSet(PromQL.query(t, "mad_over_time(click[1h]) by (cohort)",
        T0, T1), "cohort", "bucket_start", "n", "mad_v") ==
      bucketed(clicks, T0, T1, 3600L)(s => Seq(s._1)).map { case (k, ss) =>
        val vs = ss.map(_._4.toDouble)
        val med = percentileOf(vs, 0.5)
        k ++ Seq(vs.size.toLong,
          r6(percentileOf(vs.map(v => math.abs(v - med)), 0.5)))
      }.toSet)
    // one bucket, group a: (1, 2, 10) → median 2, |v−med| = (1, 0, 8),
    // MAD 1; group b: (1, 3) → interpolated median 2, devs (1, 1), MAD 1
    import spark.implicits._
    val rows = Seq(
      ("m", Map("g" -> "a"), T0 + 10L, 1.0),
      ("m", Map("g" -> "a"), T0 + 20L, 2.0),
      ("m", Map("g" -> "a"), T0 + 30L, 10.0),
      ("m", Map("g" -> "b"), T0 + 10L, 1.0),
      ("m", Map("g" -> "b"), T0 + 20L, 3.0))
      .toDF("metric", "labels", "ts", "value")
    val got = PromQL.query(Tsdb.attach(spark, rows),
        "mad_over_time(m[1h]) by (g)", T0, T1)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(("a", 3L, 1.0), ("b", 2L, 1.0)), got.toString)
  }

  test("ts_of_* family: front-end matches the direct tsOf aggregation; " +
      "value ties break to the latest sample; subquery steps reject") {
    // the front-end's default grid step is the range itself (PromQL's
    // query_range alignment); per series, a value tie to the newest ts
    val slid = windowed(clicks, T0, T1, 7200L, 7200L)(s => Seq(s._1, s._2))
    for ((fn, vcol, pick) <- Seq[(String, String, Seq[Sample] => Long)](
        ("ts_of_max_over_time", "ts_of_max_v", _.maxBy(s => (s._4, s._3))._3),
        ("ts_of_min_over_time", "ts_of_min_v", _.maxBy(s => (-s._4, s._3))._3),
        ("ts_of_last_over_time", "ts_of_last_v", _.map(_._3).max))) {
      val q = PromQL.query(t,
        s"$fn(click[7200]) by (cohort, user_id)", T0, T1)
      assert(q.columns.toSeq == Seq("cohort", "user_id", "eval_ts", vcol))
      assert(rowSet(q, q.columns.toSeq: _*) ==
        slid.map { case (k, ss) => k :+ pick(ss).toDouble }.toSet, fn)
      // round-trip
      val s = s"$fn(click[7200]) by (cohort, user_id)"
      assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
    }
    // tie semantics on a hand fixture: max value 5.0 at ts T0+10 AND
    // T0+30 → latest wins (Prometheus scans chronologically with >=);
    // min value 1.0 at T0+20 and T0+40 → latest wins too
    import spark.implicits._
    val rows = Seq(
      ("m", Map("g" -> "a"), T0 + 10L, 5.0),
      ("m", Map("g" -> "a"), T0 + 20L, 1.0),
      ("m", Map("g" -> "a"), T0 + 30L, 5.0),
      ("m", Map("g" -> "a"), T0 + 40L, 1.0))
      .toDF("metric", "labels", "ts", "value")
    val tt = Tsdb.attach(spark, rows)
    val mx = PromQL.query(tt, "ts_of_max_over_time(m[1h]) by (g)", T0, T1)
      .select("ts_of_max_v").head().getDouble(0)
    val mn = PromQL.query(tt, "ts_of_min_over_time(m[1h]) by (g)", T0, T1)
      .select("ts_of_min_v").head().getDouble(0)
    val lst = PromQL.query(tt, "ts_of_last_over_time(m[1h]) by (g)", T0, T1)
      .select("ts_of_last_v").head().getDouble(0)
    assert(mx == (T0 + 30L).toDouble, mx.toString)
    assert(mn == (T0 + 40L).toDouble, mn.toString)
    assert(lst == (T0 + 40L).toDouble, lst.toString)
    // [range:step] subquery steps reject loudly (TsOfFns ∉ OverTime)
    val e = intercept[IllegalArgumentException](
      PromQL.query(t, "ts_of_max_over_time(click[7200:3600])", T0, T1))
    assert(e.getMessage.contains("over_time"), e.getMessage)
  }

  test("mad_over_time as a subquery outer: single-point windows have " +
      "MAD exactly 0; wider windows bound below by 0") {
    // outer range == step: every lookback window holds exactly one inner
    // point, so the median IS the value and every deviation is 0
    val one = PromQL.query(t,
      "mad_over_time(rate(click[3600]) by (cohort) [3600:3600])", T0, T1)
      .select("mad_v").collect().map(_.getDouble(0))
    assert(one.nonEmpty && one.forall(_ == 0.0), one.take(5).mkString(","))
    val wide = PromQL.query(t,
      "mad_over_time(rate(click[3600]) by (cohort) [21600:3600])", T0, T1)
      .select("mad_v").collect().map(_.getDouble(0))
    assert(wide.nonEmpty && wide.forall(_ >= 0.0))
    assert(wide.exists(_ > 0.0), "6h windows of varying rates all had MAD 0?")
  }

  test("double_exponential_smoothing is the 3.x spelling of holt_winters") {
    assertSame(
      PromQL.query(t,
        "double_exponential_smoothing(click[7200:3600], 0.5, 0.5)",
        T0, T1),
      PromQL.query(t, "holt_winters(click[7200:3600], 0.5, 0.5)", T0, T1))
  }

  test("predict_linear and absent") {
    // one exact fit per series over the whole query window, x from its
    // start, extrapolated 1h past its end
    val pl = PromQL.query(t, "predict_linear(click[1h], 1h) by (user_id)",
      T0, T1)
    assert(pl.columns.toSeq ==
      Seq("user_id", "n", "slope_per_sec", "predicted"))
    assert(rowSet(pl, pl.columns.toSeq: _*) == clickSeries.flatMap(ss =>
      fitOf(ss, T0, T1 + 3600L - T0).map(ss.head._2 +: _)).toSet)
    // present metric → empty; absent metric → the single 1.0 row
    assert(PromQL.query(t, "absent(click)", T0, T1).count() == 0L)
    val gone = PromQL.query(t, "absent(no_such_metric)", T0, T1).collect()
    assert(gone.map(_.getDouble(0)).toSeq == Seq(1.0))
  }

  test("absent_over_time: parse == direct; complements present grid") {
    assertSame(
      PromQL.query(t, """absent_over_time(click{user_id="7"}[1h])""",
        T0, T1),
      t.absentOverTime("click", Seq(LabelMatcher.eq("user_id", "7")),
        T0, T1, 3600L, 3600L))
    // every hourly grid point is either absent or covered, never both
    val absent = t.absentOverTime("click",
      Seq(LabelMatcher.eq("user_id", "7")), T0, T1, 3600L, 3600L)
    val present = PromQL.query(t,
        """present_over_time(click{user_id="7"}[1h])""", T0, T1)
      .select("eval_ts").distinct()
    val gridN = (T1 - T0) / 3600L + 1  // T0 is grid-aligned
    assert(absent.count() + present.count() == gridN)
    assert(absent.join(present, "eval_ts").count() == 0L)
  }

  test("arithmetic vector matches (/ * + -) == the driver-side match " +
      "replay") {
    val hourly = (m: Seq[Sample]) => momentsBy(m, 3600L)(s => Seq(s._1))
    for ((op, f) <- Seq[(String, (Double, Double) => Double)](
        "/" -> ratio6, "+" -> (_ + _), "-" -> (_ - _), "*" -> (_ * _))) {
      val df = PromQL.query(t,
        s"sum by (cohort) (purchase[1h]) $op sum by (cohort) (click[1h])",
        T0, T1)
      assert(df.columns.toSeq == "cohort" +: MatchCols)
      assert(bagOf(df, df.columns.toSeq: _*) ==
        matchReplay(hourly(purchases), hourly(clicks))(identity)(f), op)
    }
  }

  test("without clause resolves against the series label universe") {
    // labels are {user_id, cohort}: without (user_id) ≡ by (cohort)
    assertSame(
      PromQL.query(t, "sum without (user_id) (click[1h])", T0, T1),
      PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1))
    // without() on both sides of a vector match
    assert(bagOf(PromQL.query(t,
        "sum without (user_id) (purchase[1h]) / " +
        "sum without (user_id) (click[1h])", T0, T1),
      "cohort" +: MatchCols: _*) ==
      matchReplay(momentsBy(purchases, 3600L)(s => Seq(s._1)),
        momentsBy(clicks, 3600L)(s => Seq(s._1)))(identity)(ratio6))
    // by and without together is a parse error
    val e = intercept[IllegalArgumentException](
      PromQL.parse("sum by (cohort) without (user_id) (click[1h])"))
    assert(e.getMessage.contains("either 'by' or 'without'"))
    // a grouping clause on both sides of the body is a loud error,
    // never a silent drop of one of them
    val e2 = intercept[IllegalArgumentException](
      PromQL.parse("sum by (cohort) (click[1h]) by (user_id)"))
    assert(e2.getMessage.contains("duplicate 'by'"))
  }

  test("histogram_quantile compiles with caller-supplied buckets") {
    val buckets = Seq(5.0, 10.0, 25.0, 50.0, 100.0, 250.0)
    assertSame(
      PromQL.query(t, "histogram_quantile(0.9, click[1h]) by (cohort)",
        T0, T1, buckets),
      t.histogramQuantile("click", Seq.empty, T0, T1, Seq("cohort"),
        3600L, 0.9, buckets))
    val e = intercept[IllegalArgumentException](
      PromQL.query(t, "histogram_quantile(0.9, click[1h]) by (cohort)",
        T0, T1))
    assert(e.getMessage.contains("bucket bounds"))
  }

  test("rollup-served compile equals the raw compile exactly") {
    val path = tempDir("promql_rollup")
    val disk = new Tsdb(spark, graft.model.TsdbConf(
      dataPath = path, compression = "zstd", segmentDuration = 86400L))
    disk.insertRows(events)
    disk.materializeRollup(3600L)
    val q = "sum by (cohort) (click[1h])"
    assertSame(
      PromQL.queryFromRollup(disk, q, T0, T1, 3600L),
      PromQL.query(disk, q, T0, T1))
    // vector matches: each moment side is served from the tier
    for (m <- Seq(
        "sum by (cohort) (purchase[1h]) / sum by (cohort) (click[1h])",
        "max by (cohort) (click[1h]) > avg by (cohort) (click[1h])",
        "max by (cohort, user_id) (click[1h]) / on (cohort) group_left " +
          "sum by (cohort) (purchase[1h])")) {
      val tier = PromQL.queryFromRollup(disk, m, T0, T1, 3600L)
      assert(tier.queryExecution.executedPlan.toString
        .contains("rollup_3600"), m)
      assert(tier.count() > 0, m)
      assertSame(tier, PromQL.query(disk, m, T0, T1))
    }
    // grid mismatch must throw, not approximate
    val e = intercept[IllegalArgumentException](
      PromQL.queryFromRollup(disk, "sum by (cohort) (click[30m])",
        T0, T1, 3600L))
    assert(e.getMessage.contains("rollup step"))
    // a sorted rollup-served expression compiles (the sort case sits
    // above the tier catch-all and threads rollupStep through)
    assertSame(
      PromQL.queryFromRollup(disk,
        """sort_by_label(sum by (cohort) (click[1h]), "cohort")""",
        T0, T1, 3600L),
      PromQL.query(disk,
        """sort_by_label(sum by (cohort) (click[1h]), "cohort")""",
        T0, T1))
    // alerting rules evaluate off the tier too: rollup-served alerts
    // equal raw-served exactly (same compiled expr, same islands pass)
    import graft.promql.Rules
    val rule = Rules.AlertRule("click_high",
      "sum by (cohort) (click[1h]) > 5", forSec = 7200L)
    assertSame(
      Rules.alertsFromRollup(disk, rule, T0, T1, 3600L)
        .orderBy("cohort", "bucket_start"),
      Rules.alerts(disk, rule, T0, T1)
        .orderBy("cohort", "bucket_start"))
  }

  test("group_left one-to-many vector match == the driver-side match " +
      "replay") {
    val gl = PromQL.query(t,
      "sum by (cohort, user_id) (purchase[1d]) / on (cohort) " +
      "group_left sum by (cohort) (click[1d])", T0, T1)
    assert(gl.columns.toSeq == Seq("cohort", "user_id") ++ MatchCols)
    assert(bagOf(gl, gl.columns.toSeq: _*) ==
      matchReplay(momentsBy(purchases, 86400L)(s => Seq(s._1, s._2)),
        momentsBy(clicks, 86400L)(s => Seq(s._1)))(
        k => Seq(k(0), k(2)))(ratio6))
    // on-labels must be part of the right side's grouping
    val e = intercept[IllegalArgumentException](
      PromQL.query(t,
        "sum by (cohort, user_id) (purchase[1d]) / on (user_id) " +
        "group_left sum by (cohort) (click[1d])", T0, T1))
    assert(e.getMessage.contains("on-labels"))
  }

  test("group_left(carry) rides the one side's extra labels onto the result") {
    // cohort = user_id % 10, so each user_id match group has exactly one
    // carried cohort value — the guard passes and cohort lands as a column
    val q = "sum by (user_id) (purchase[1d]) / on (user_id) " +
      "group_left(cohort) sum by (user_id, cohort) (click[1d])"
    val df = PromQL.query(t, q, T0, T1)
    assert(df.columns.toSeq == Seq("user_id", "cohort", "bucket_start",
      "n_a", "n_b", "sum_a", "sum_b", "result"))
    assert(df.count() > 0)
    // carried values are correct: cohort == user_id mod 10
    assert(df.where(col("cohort") !==
      pmod(col("user_id").cast("long"), lit(10)).cast("string")).isEmpty)
    // rows match the carry-free join on the same key
    val plain = PromQL.query(t,
      "sum by (user_id) (purchase[1d]) / on (user_id) " +
      "group_left sum by (user_id) (click[1d])", T0, T1)
    assertSame(df.drop("cohort"), plain)
    // the render round trip drops the (validated) annotation but parses
    // and compiles identically
    assertSame(PromQL.query(t, PromQL.render(PromQL.parse(q)), T0, T1), df)
    // a carry list that does not match the one side's grouping is
    // rejected at parse time
    val e1 = intercept[IllegalArgumentException](PromQL.parse(
      "sum by (user_id) (purchase[1d]) / on (user_id) " +
      "group_left(band) sum by (user_id, cohort) (click[1d])"))
    assert(e1.getMessage.contains("carried labels"))
    // an AMBIGUOUS match group (many carried user_ids per cohort)
    // raises at execution instead of silently multiplying rows
    val dup = PromQL.query(t,
      "sum by (cohort) (purchase[1d]) / on (cohort) " +
      "group_left(user_id) sum by (cohort, user_id) (click[1d])", T0, T1)
    val e2 = intercept[Exception](dup.collect())
    assert(e2.getMessage.contains("more than one right-side row"),
      e2.getMessage.take(300))
    // group_right mirror carries the left side's extras
    val dfR = PromQL.query(t,
      "sum by (user_id, cohort) (purchase[1d]) / on (user_id) " +
      "group_right(cohort) sum by (user_id) (click[1d])", T0, T1)
    assert(dfR.columns.contains("cohort") && dfR.count() > 0)
    // `group_left ()` — Prometheus's explicit empty list = plain form
    assertSame(PromQL.query(t,
      "sum by (user_id) (purchase[1d]) / on (user_id) " +
      "group_left () sum by (user_id) (click[1d])", T0, T1), plain)
    // a carried label already on the many side would make the join
    // ambiguous — rejected loudly
    val e3 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (user_id, cohort) (purchase[1d]) / on (user_id) " +
      "group_left(cohort) sum by (user_id, cohort) (click[1d])", T0, T1))
    assert(e3.getMessage.contains("ambiguous"), e3.getMessage)
    // the ignoring form never carries: a one side grouped beyond the
    // resolved on-labels is rejected instead of silently riding the
    // ignored label onto the output
    val e4 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (user_id) (purchase[1d]) / ignoring (cohort) " +
      "group_left sum by (user_id, cohort) (click[1d])", T0, T1))
    assert(e4.getMessage.contains("explicit on"), e4.getMessage)
  }

  test("chunk-tier selector serve equals the raw range scan") {
    val disk = new Tsdb(spark, graft.model.TsdbConf(
      dataPath = tempDir("promql_chunks"), compression = "zstd",
      segmentDuration = 86400L))
    disk.insertRows(events)
    disk.materializeGorillaChunks()
    assertSame(
      PromQL.queryFromChunks(disk, """click{cohort="3"}""", T0, T1),
      disk.queryRange("click", Seq(LabelMatcher.eq("cohort", "3")),
        T0, T1))
    val e = intercept[IllegalArgumentException](
      PromQL.queryFromChunks(disk, "sum by (cohort) (click[1h])", T0, T1))
    assert(e.getMessage.contains("bare selectors"))
  }

  test("each vector-match side applies ITS OWN matchers only") {
    // the numerator filter is on a label OUTSIDE the grouping, so the
    // old union-of-matchers behavior would (wrongly) filter the
    // denominator too — this asserts the per-side semantics
    val ones = purchases.filter(_._2.startsWith("1"))
    val daily = (m: Seq[Sample]) => momentsBy(m, 86400L)(s => Seq(s._1))
    val perSide = matchReplay(daily(ones), daily(clicks))(identity)(ratio6)
    assert(bagOf(PromQL.query(t,
        """sum by (cohort) (purchase{user_id=~"1.*"}[1d]) / """ +
        "sum by (cohort) (click[1d])", T0, T1),
      "cohort" +: MatchCols: _*) == perSide)
    // and the union version is genuinely different (the test bites)
    val union = matchReplay(daily(ones),
      daily(clicks.filter(_._2.startsWith("1"))))(identity)(ratio6)
    val r2 = union.keys.map(r => r.take(2) -> r.last).toMap
    assert(perSide.keys.exists(r => r2.get(r.take(2)).exists(_ != r.last)),
      "fixture too weak: per-side and union matchers agree everywhere")
  }

  test("bare rate/increase/delta compile per-series (full label set)") {
    assertSame(
      PromQL.query(t, "increase(click[1h])", T0, T1),
      PromQL.query(t, "increase(click[1h]) by (cohort, user_id)", T0, T1))
    assertSame(
      PromQL.query(t, "rate(click[1h])", T0, T1),
      PromQL.query(t, "sum by (cohort, user_id) (rate(click[1h]))",
        T0, T1))
    assertSame(
      PromQL.query(t, "delta(click[1h])", T0, T1),
      PromQL.query(t, "delta(click[1h]) by (cohort, user_id)", T0, T1))
    // a trailing by () groups at its own grain instead: the endpoints
    // of all the cohort's samples in the bucket
    assert(rowSet(PromQL.query(t, "delta(click[1h]) by (cohort)", T0, T1),
        "cohort", "bucket_start", "n", "delta") ==
      bucketed(clicks, T0, T1, 3600L)(s => Seq(s._1)).map { case (k, ss) =>
        k ++ Seq(ss.size.toLong, endpoints(ss)) }.toSet)
  }

  test("delta endpoints: single-sample buckets are 0, n counts samples") {
    val d = PromQL.query(t, "delta(click[1h])", T0, T1)
    assert(d.where(col("n") === 1 && col("delta") =!= 0.0).count() == 0L)
  }

  test("scalar arithmetic and threshold filters on aggregated vectors") {
    val base = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
    assertSame(
      PromQL.query(t, "sum by (cohort) (click[1h]) * 100", T0, T1),
      base.withColumn("result", col("sum_v") * 100))
    assertSame(
      PromQL.query(t, "sum by (cohort) (click[1h]) > 500", T0, T1),
      base.where(col("sum_v") > 500))
    // chained: ratio, scaled, thresholded — the alert-rule shape
    val ratio = stageMatch("purchase", "click")((a, b) => round(a / b, 6))
    assertSame(
      PromQL.query(t,
        "sum by (cohort) (purchase[1h]) / sum by (cohort) (click[1h])" +
        " * 100 > 55", T0, T1),
      ratio.withColumn("result", col("result") * 100)
        .where(col("result") > 55))
  }

  test("and / or / unless vector set ops == the driver-side key replay") {
    val pm = momentsBy(purchases, 3600L)(s => Seq(s._1))
    val cm = momentsBy(clicks, 3600L)(s => Seq(s._1))
    for ((sop, rows) <- Seq(
        "and" -> pm.filter(r => cm.contains(r._1)),
        "or" -> (pm ++ cm.filter(r => !pm.contains(r._1))),
        "unless" -> pm.filter(r => !cm.contains(r._1)))) {
      val df = PromQL.query(t,
        s"sum by (cohort) (purchase[1h]) $sop " +
        "sum by (cohort) (click[1h])", T0, T1)
      assert(df.columns.toSeq == "cohort" +: MomentCols)
      assert(df.count() == rows.size &&
        rowSet(df, df.columns.toSeq: _*) ==
          rows.map { case (k, ms) => k ++ ms }.toSet, sop)
    }
    // 'unless' with a thresholded right side: purchases in hours where
    // clicks did NOT exceed the threshold
    val a = PromQL.query(t, "sum by (cohort) (purchase[1h])", T0, T1)
    val b = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
      .where(col("sum_v") > 500)
    assertSame(
      PromQL.query(t,
        "sum by (cohort) (purchase[1h]) unless " +
        "sum by (cohort) (click[1h]) > 500", T0, T1),
      a.join(b.select("cohort", "bucket_start"),
        Seq("cohort", "bucket_start"), "left_anti"))
    // sanity: and + unless partition the left side
    val n = a.count()
    val nAnd = PromQL.query(t,
      "sum by (cohort) (purchase[1h]) and sum by (cohort) (click[1h])",
      T0, T1).count()
    val nUnless = PromQL.query(t,
      "sum by (cohort) (purchase[1h]) unless sum by (cohort) (click[1h])",
      T0, T1).count()
    assert(nAnd + nUnless == n)
  }

  test("group_right many-to-one vector match == the driver-side match " +
      "replay") {
    val grAll = PromQL.query(t,
      "sum by (cohort) (click[1d]) / on (cohort) group_right " +
      "sum by (cohort, user_id) (purchase[1d])", T0, T1)
    assert(grAll.columns.toSeq == Seq("cohort", "user_id") ++ MatchCols)
    assert(bagOf(grAll, grAll.columns.toSeq: _*) ==
      matchReplay(momentsBy(clicks, 86400L)(s => Seq(s._1)),
        momentsBy(purchases, 86400L)(s => Seq(s._1, s._2)), right = true)(
        k => Seq(k(0), k(2)))(ratio6))
    // group_right keeps the RIGHT side's finer labels; its result is the
    // value-mirror of the equivalent group_left with sides swapped
    val gr = PromQL.query(t,
      "sum by (cohort) (click[1d]) / on (cohort) group_right " +
      "sum by (cohort, user_id) (purchase[1d])", T0, T1)
      .select(col("cohort"), col("user_id"), col("bucket_start"),
        col("result"))
    val gl = PromQL.query(t,
      "sum by (cohort, user_id) (purchase[1d]) / on (cohort) group_left " +
      "sum by (cohort) (click[1d])", T0, T1)
      .where(col("result") =!= 0.0)
      .select(col("cohort"), col("user_id"), col("bucket_start"),
        (lit(1.0) / col("result")).as("inv"))
    val cmp = gr.join(gl, Seq("cohort", "user_id", "bucket_start"))
    assert(cmp.count() > 0)
    // both sides round their ratio to 6 decimals, so compare the
    // reciprocals with a relative tolerance
    assert(cmp.where(abs(col("result") - col("inv")) / abs(col("inv")) >
      lit(0.001)).count() == 0L)
    // on-labels must equal the LEFT side's grouping for group_right
    val e = intercept[IllegalArgumentException](
      PromQL.query(t,
        "sum by (cohort) (click[1d]) / on (user_id) group_right " +
        "sum by (cohort, user_id) (purchase[1d])", T0, T1))
    assert(e.getMessage.contains("on-labels"))
  }

  test("non-sum vector matching picks each side's moment column") {
    def rows(q: String) = {
      val df = PromQL.query(t, q, T0, T1)
      bagOf(df, df.columns.toSeq: _*)
    }
    assert(rows("max by (cohort) (click[1h]) / avg by (cohort) (click[1h])")
      == matchReplay(momentsBy(clicks, 3600L)(s => Seq(s._1)),
        momentsBy(clicks, 3600L)(s => Seq(s._1)), "max_v", "avg_v")(
        identity)(ratio6))
    // group_left/group_right accept non-sum moment pairs too:
    // each user's daily max click against their cohort's daily avg
    val perUser = momentsBy(clicks, 86400L)(s => Seq(s._1, s._2))
    val perCohort = momentsBy(clicks, 86400L)(s => Seq(s._1))
    assert(rows(
        "max by (cohort, user_id) (click[1d]) / on (cohort) group_left " +
        "avg by (cohort) (click[1d])") ==
      matchReplay(perUser, perCohort, "max_v", "avg_v")(
        k => Seq(k(0), k(2)))(ratio6))
    assert(rows(
        "avg by (cohort) (click[1d]) / on (cohort) group_right " +
        "max by (cohort, user_id) (click[1d])") ==
      matchReplay(perCohort, perUser, "avg_v", "max_v", right = true)(
        k => Seq(k(0), k(2)))(ratio6))
  }

  test("scalar ops compose over rollup-served aggregations") {
    val path = tempDir("promql_rollup_scalar")
    val disk = new Tsdb(spark, graft.model.TsdbConf(
      dataPath = path, compression = "zstd", segmentDuration = 86400L))
    disk.insertRows(events)
    disk.materializeRollup(3600L)
    val q = "sum by (cohort) (click[1h]) * 100 > 500"
    assertSame(
      PromQL.queryFromRollup(disk, q, T0, T1, 3600L),
      PromQL.query(disk, q, T0, T1))
  }

  test("offset threads through every tumbling shape: shifted window, " +
      "requested grid") {
    val o = 86400L
    val S = T0 + o
    // the offset answer IS the unshifted answer over the shifted
    // window, re-gridded: bucket_start / eval_ts + o
    def shifted(q: String, tCol: String) =
      PromQL.query(t, q, T0, T1 - o).withColumn(tCol, col(tCol) + o)
    assertSame(
      PromQL.query(t, "quantile(0.5, click[1h] offset 1d) by (cohort)",
        S, T1),
      shifted("quantile(0.5, click[1h]) by (cohort)", "bucket_start"))
    assertSame(
      PromQL.query(t, "topk(3, sum by (cohort) (click[1h] offset 1d))",
        S, T1),
      shifted("topk(3, sum by (cohort) (click[1h]))", "bucket_start"))
    assert(rowSet(PromQL.query(t,
        "topk(3, sum by (cohort) (click[1h] offset 1d))", S, T1),
        "cohort", "bucket_start", "rk", "n", "sum_v") ==
      firstKOf(S, o, 3)((c, v) => (-v, c)))
    assertSame(
      PromQL.query(t, "rate(click[1h] offset 1d)", S, T1),
      PromQL.query(t, "rate(click[1h])", T0, T1 - o)
        .withColumn("bucket_start", col("bucket_start") + o))
    assertSame(
      PromQL.query(t, "avg_over_time(click[30m] offset 1d) by (cohort)",
        S, T1),
      shifted("avg_over_time(click[30m]) by (cohort)", "eval_ts"))
    assertSame(
      PromQL.query(t, "delta(click[1h] offset 1d)", S, T1),
      shifted("delta(click[1h])", "bucket_start"))
  }

  test("per-side offsets: the day-over-day ratio shape") {
    // purchase yesterday vs purchase today per cohort-day — each side
    // evaluates its own offset window, matched on the requested grid
    val df = PromQL.query(t,
      "sum by (cohort) (purchase[1d] offset 1d) / " +
      "sum by (cohort) (purchase[1d])", T0 + 86400L, T1)
    assert(df.count() > 0 && bagOf(df, df.columns.toSeq: _*) ==
      matchReplay(
        momentsBy(purchases, 86400L, T0 + 86400L, 86400L)(s => Seq(s._1)),
        momentsBy(purchases, 86400L, T0 + 86400L)(s => Seq(s._1)))(
        identity)(ratio6))
  }

  test("offset threads through the formerly fail-fast shapes: " +
      "predict_linear / absent / histogram_quantile") {
    val o = 86400L
    val S = T0 + o
    // predict_linear offset 1d == the exact fit over the shifted window
    // with the SAME horizon from the shifted origin (xp is offset-free)
    assert(rowSet(PromQL.query(t,
        "predict_linear(click[1h] offset 1d, 3600) by (user_id)", S, T1),
        "user_id", "n", "slope_per_sec", "predicted") ==
      clicks.filter(c => c._3 >= S - o && c._3 <= T1 - o).groupBy(_._2)
        .flatMap { case (u, ss) =>
          fitOf(ss, S - o, T1 + 3600L - S).map(u +: _) }.toSet)
    // absent offset: the shifted window decides presence
    assert(PromQL.query(t, "absent(no_such_metric offset 1d)", S, T1)
      .count() == 1L)
    assert(PromQL.query(t, "absent(click offset 1d)", S, T1).count() == 0L)
    // histogram_quantile offset: shifted scan, requested grid
    assertSame(
      PromQL.query(t,
        "histogram_quantile(0.9, click[1h] offset 1d) by (cohort)",
        S, T1, Seq(5.0, 10.0, 25.0)),
      t.histogramQuantile("click", Seq.empty, S, T1, Seq("cohort"),
        3600L, 0.9, Seq(5.0, 10.0, 25.0), o))
  }

  test("offset on a rollup-served shape: bucket-multiple exact, " +
      "non-multiple loud") {
    val path = tempDir("promql_rollup_offset")
    val disk = new Tsdb(spark, graft.model.TsdbConf(
      dataPath = path, compression = "zstd", segmentDuration = 86400L))
    disk.insertRows(events)
    disk.materializeRollup(3600L)
    val q = "sum by (cohort) (click[1h] offset 1d)"
    // day-over-day from the tier == the raw path exactly
    assertSame(
      PromQL.queryFromRollup(disk, q, T0 + 86400L, T1, 3600L),
      PromQL.query(disk, q, T0 + 86400L, T1))
    // a sub-bucket offset cannot be served exactly from an hourly tier
    val e = intercept[IllegalArgumentException](
      PromQL.queryFromRollup(disk,
        "sum by (cohort) (click[1h] offset 30m)", T0 + 86400L, T1, 3600L))
    assert(e.getMessage.contains("multiple"))
  }

  test("count_values custom output label renames the value column") {
    val q = """count_values("band", click[1d]) by (cohort)"""
    val df = PromQL.query(t, q, T0, T1)
    assert(df.columns.contains("band") && !df.columns.contains("value"))
    // same rows as the conventional form, modulo the rename
    assertSame(df.withColumnRenamed("band", "value"),
      PromQL.query(t, """count_values("value", click[1d]) by (cohort)""",
        T0, T1))
    // round trip with the custom label
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
    // an invalid or colliding label still fails loudly
    val e1 = intercept[IllegalArgumentException](
      PromQL.parse("""count_values("not a label!", click[1h])"""))
    assert(e1.getMessage.contains("not a valid label name"))
    val e2 = intercept[IllegalArgumentException](
      PromQL.parse("""count_values("cohort", click[1h]) by (cohort)"""))
    assert(e2.getMessage.contains("collides"))
    // a custom label composes with without(...): the clause resolves
    // through the rename wrapper (grouping = label universe minus
    // cohort = user_id) instead of being silently dropped
    val wo = PromQL.query(t,
      """count_values("band", click[1d]) without (cohort)""", T0, T1)
    assert(wo.columns.toSeq ==
      Seq("user_id", "bucket_start", "band", "n"), wo.columns.toSeq)
    assertSame(wo,
      PromQL.query(t,
        """count_values("band", click[1d]) by (user_id)""", T0, T1))
    // a collision that only appears AFTER without-resolution is caught
    // at compile time
    val e3 = intercept[IllegalArgumentException](PromQL.query(t,
      """count_values("user_id", click[1d]) without (cohort)""", T0, T1))
    assert(e3.getMessage.contains("collides"), e3.getMessage)
  }

  test("avg/min/max/count over increase: cross-series counter moments") {
    // the moments of the per-series increases, recomputed on the driver
    val avgBy = PromQL.query(t, "avg by (cohort) (increase(click[1h]))",
      T0, T1)
    assert(avgBy.columns.toSeq == Seq("cohort", "bucket_start", "n_series",
      "sum_increase", "avg_increase", "min_increase", "max_increase"))
    assert(avgBy.collect().map(r => (r.getString(0), r.getLong(1)) ->
        (2 to 6).map(r.get)).toMap ==
      incByCohort.map { case (k, vs) =>
        val sum = vs.sum.toDouble
        k -> Seq(vs.size.toLong, sum, sum / vs.size, vs.min.toDouble,
          vs.max.toDouble)
      })
    // the family's sum member equals the sum-by shape exactly
    val moments = avgBy
      .select(col("cohort"), col("bucket_start"), col("sum_increase"))
    val sumBy = PromQL.query(t, "sum by (cohort) (increase(click[1h]))",
        T0, T1)
      .select(col("cohort"), col("bucket_start"), col("increase"))
    val joined = moments.join(sumBy, Seq("cohort", "bucket_start"))
    assert(joined.count() > 0)
    assert(joined.where(col("sum_increase") =!= col("increase")).count()
      == 0L)
    // min <= avg <= max on every group
    val m = PromQL.query(t, "min by (cohort) (increase(click[1h]))", T0, T1)
    assert(m.where(col("min_increase") > col("avg_increase") ||
      col("avg_increase") > col("max_increase")).count() == 0L)
  }

  test("math functions ride the value column pointwise, chainable") {
    val base = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
    assertSame(
      PromQL.query(t, "clamp_min(sum by (cohort) (click[1h]), 100)",
        T0, T1),
      base.withColumn("result", greatest(col("sum_v"), lit(100.0))))
    assertSame(
      PromQL.query(t, "floor(sum by (cohort) (click[1h]))", T0, T1),
      base.withColumn("result", floor(col("sum_v")).cast("double")))
    // chained over a vector difference, then thresholded
    val diff = stageMatch("click", "purchase")(_ - _)
    assertSame(
      PromQL.query(t,
        "abs(sum by (cohort) (click[1h]) - " +
        "sum by (cohort) (purchase[1h])) > 50", T0, T1),
      diff.withColumn("result", abs(col("result")))
        .where(col("result") > 50))
    assertSame(
      PromQL.query(t, "sqrt(sum by (cohort) (click[1h]))", T0, T1),
      base.withColumn("result", sqrt(col("sum_v"))))
    assertSame(
      PromQL.query(t,
        "sgn(sum by (cohort) (click[1h]) - " +
        "sum by (cohort) (purchase[1h]))", T0, T1),
      stageMatch("click", "purchase")(_ - _)
        .withColumn("result", signum(col("result"))))
    // clamp without its scalar bound is a parse error
    val e = intercept[IllegalArgumentException](
      PromQL.parse("clamp_min(sum by (cohort) (click[1h]))"))
    assert(e.getMessage.nonEmpty)
  }

  test("log/round/clamp math family compiles onto the value column") {
    val base = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
    assertSame(
      PromQL.query(t, "ln(sum by (cohort) (click[1h]))", T0, T1),
      base.withColumn("result", log(col("sum_v"))))
    assertSame(
      PromQL.query(t, "log10(sum by (cohort) (click[1h]))", T0, T1),
      base.withColumn("result", log10(col("sum_v"))))
    assertSame(
      PromQL.query(t, "exp(sgn(sum by (cohort) (click[1h])))", T0, T1),
      base.withColumn("result", exp(signum(col("sum_v")))))
    // Prometheus round: nearest multiple of `to`, ties up; default to=1
    assertSame(
      PromQL.query(t, "round(sum by (cohort) (click[1h]), 100)", T0, T1),
      base.withColumn("result",
        floor(col("sum_v") / 100.0 + 0.5).cast("double") * 100.0))
    assertSame(
      PromQL.query(t, "round(sum by (cohort) (click[1h]))", T0, T1),
      base.withColumn("result",
        floor(col("sum_v") / 1.0 + 0.5).cast("double") * 1.0))
    // clamp bands both sides; an inverted band is the empty vector
    assertSame(
      PromQL.query(t, "clamp(sum by (cohort) (click[1h]), 100, 200)",
        T0, T1),
      base.withColumn("result",
        least(greatest(col("sum_v"), lit(100.0)), lit(200.0))))
    assert(PromQL.query(t,
      "clamp(sum by (cohort) (click[1h]), 200, 100)", T0, T1).count() == 0L)
    // round-trip for the two- and three-arg forms
    Seq("round(sum by (cohort) (click[1h]), 100)",
        "clamp(sum by (cohort) (click[1h]), 100, 200)").foreach { s =>
      val ast = PromQL.parse(s)
      assert(PromQL.parse(PromQL.render(ast)) == ast, s"round-trip: $s")
    }
  }

  test("stddev/stdvar/present_over_time ride the over_time grid") {
    val spread =
      PromQL.query(t, "stdvar_over_time(click[2h:1h]) by (cohort)", T0, T1)
    assert(spread.columns.toSeq ==
      Seq("cohort", "eval_ts", "n", "stdvar_v", "stddev_v"))
    // per series, the integer-cents spread of each 2h window every hour
    assert(bagOf(spread, spread.columns.toSeq: _*) == bag(
      windowed(clicks, T0, T1, 3600L, 7200L)(s => Seq(s._1, s._2)).map {
        case (Seq(c, _, e), ss) =>
          val Seq(n, _, sv, sd) = spreadOf(ss)
          Seq(c, e, n, sv, sd)
      }))
    // stddev_v is the square root of stdvar_v on every row (round-6 ULP)
    val bad = spread.where(
      abs(col("stddev_v") * col("stddev_v") - col("stdvar_v")) > 1e-4)
    assert(bad.count() == 0L)
    // present_over_time: one 1.0 per over_time output row
    val present = PromQL.query(t,
      "present_over_time(click[2h:1h]) by (cohort)", T0, T1)
    val moments2h =
      PromQL.query(t, "avg_over_time(click[2h:1h]) by (cohort)", T0, T1)
    assert(present.count() == moments2h.count())
    assert(present.select("present_v").distinct().collect()
      .map(_.getDouble(0)).toSeq == Seq(1.0))
    // threshold filtering composes over the windowed moments
    assertSame(
      PromQL.query(t, "avg_over_time(click[2h:1h]) by (cohort) > 50",
        T0, T1),
      moments2h.where(col("avg_v") > 50))
  }

  test("[range:step] subquery pins the over_time eval grid") {
    // per series: the moments of each 2h window, every hour
    assert(bagOf(
        PromQL.query(t, "avg_over_time(click[2h:1h]) by (cohort)", T0, T1),
        "cohort", "eval_ts", "n", "sum_v", "avg_v", "min_v", "max_v",
        "last_v") ==
      bag(windowed(clicks, T0, T1, 3600L, 7200L)(s => Seq(s._1, s._2)).map {
        case (Seq(c, _, e), ss) => Seq(c, e) ++ moments(ss) :+ lastOf(ss) }))
    assertSame(
      PromQL.query(t, """absent_over_time(click{user_id="7"}[30m:1h])""",
        T0, T1),
      t.absentOverTime("click", Seq(LabelMatcher.eq("user_id", "7")),
        T0, T1, 3600L, 1800L))
    // r14: the sliding counter/trend family accepts [range:step] too —
    // `rate(x[R:s])` is the Prometheus rate-over-subquery shape, served
    // by the same sliding counter grid the nested subqueries ride
    assertSame(
      PromQL.query(t, "rate(click[2h:1h]) by (cohort)", T0, T1),
      PromQL.query(t, "sum by (cohort) (rate(click[2h:1h]))", T0, T1))
    // the sliding sum by (cohort) is the exact sum of the per-series
    // increases and delta counts at each eval point
    val perSeries = PromQL.query(t, "increase(click[2h:1h])", T0, T1)
      .select("cohort", "eval_ts", "n", "increase").collect().toSeq
      .groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case (k, rs) =>
        val inc = rs.map(r => BigDecimal(r.getDouble(3))).sum.toDouble
        k -> Seq[Any](rs.map(_.getLong(2)).sum, inc,
          math.floor(inc / 7200 * 1e6 + 0.5) / 1e6)
      }
    assert(PromQL.query(t, "sum by (cohort) (rate(click[2h:1h]))", T0, T1)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (2 to 4).map(r.get)).toMap == perSeries)
    // sliding deriv: one exact fit per (cohort, eval point) window
    assert(rowSet(PromQL.query(t, "deriv(click[2h:1h]) by (cohort)", T0, T1),
        "cohort", "eval_ts", "n", "slope_per_sec") ==
      windowed(clicks, T0, T1, 3600L, 7200L)(s => Seq(s._1)).flatMap {
        case (k, ss) => fitOf(ss, k.last.asInstanceOf[Long] - 7200L, 7200L)
          .map(f => k ++ f.take(2)) }.toSet)
    // a subquery step anywhere else is rejected up front, never ignored
    val bad = Seq(
      "sum by (cohort) (click[1h:5m])",
      "click[1h:5m]",
      "avg by (cohort) (rate(click[1h:5m]))",
      "quantile_over_time(0.5, click[1h:5m]) by (cohort)",
      // subquery-in-subquery with MISALIGNED grids (420 ∤ 3600): the
      // aligned depth-2 form works since r15, the misaligned one is
      // two incompatible sliding resolutions — fail fast
      "max_over_time(rate(click[1h:7m])[6h:1h])")
    bad.foreach { q =>
      val e = intercept[IllegalArgumentException](PromQL.query(t, q, T0, T1))
      assert(e.getMessage.contains("subquery") ||
        e.getMessage.contains("not supported"),
        s"no subquery error for: $q")
    }
  }

  test("canonical classic-histogram quantile: parse, grouping, " +
      "rejections") {
    val q = "histogram_quantile(0.9, sum by (cohort, le) " +
      "(rate(click[3600])))"
    val ast = PromQL.parse(q)
    assert(ast.isInstanceOf[PromQL.HistQuantileAgg])
    // parse-render round trip
    assert(PromQL.parse(PromQL.render(ast)) == ast)
    // the quantile collapses the le axis: rule-safe grouping = by ∖ le
    // (proved end-to-end — the rules path reads its label schema from
    // the compiled vector's keys and would throw on None or mis-shape)
    locally {
      import graft.promql.Rules
      val al = Rules.alerts(t,
        Rules.AlertRule("histq", s"$q > 50", forSec = 0L), T0, T1)
      assert(al.columns.toSeq ==
        Seq("alertname", "cohort", "bucket_start", "value", "state"))
    }
    // recording rules compose: the recorded samples carry the by ∖ le
    // grain and the q value
    locally {
      import graft.promql.Rules
      val rec = Rules.record(t,
        Rules.RecordingRule("cohort:click:p90", q, Map("job" -> "slo")),
        T0, T1)
      assert(rec.columns.toSeq == Seq("metric", "labels", "ts", "value"))
    }
    // a by-list without `le` is a contract error, caught at compile
    val e1 = intercept[IllegalArgumentException](
      PromQL.query(t, "histogram_quantile(0.9, sum by (cohort) " +
        "(rate(click[3600])))", T0, T1))
    assert(e1.getMessage.contains("`le`"), e1.getMessage)
    // non-sum aggregated bodies reject loudly
    val e2 = intercept[IllegalArgumentException](
      PromQL.query(t, "histogram_quantile(0.9, avg by (cohort, le) " +
        "(rate(click[3600])))", T0, T1))
    assert(e2.getMessage.contains("sum by"), e2.getMessage)
  }

  test("README example strings parse (dotted mandodb metric names)") {
    Seq(
      """topk(3, sum by (dc) (cpu.busy[5m]))""",
      """sum without (node) (rate(net.in.bytes{dc=~"eu.*"}[1m]))""",
      """irate(cpu.busy[1m]) by (node)""",
      """sum by (dc) (cpu.busy[1h])""").foreach(PromQL.parse)
  }

  test("malformed and unsupported input fails with a clear message") {
    val bad = Seq(
      "sum by (cohort) (click[1h]",          // unbalanced paren
      """click{cohort=3}""",                  // unquoted matcher value
      "topk(3, avg by (cohort) (click[1h]))", // unsupported rank body
      "sum by (cohort) (click)")              // missing step range
    bad.foreach { q =>
      val e = intercept[IllegalArgumentException](
        PromQL.query(t, q, T0, T1).collect())
      assert(e.getMessage.nonEmpty)
    }
  }

  test("deriv == predict_linear's slope projection; threads offset") {
    assertSame(
      PromQL.query(t, "deriv(click[7d]) by (user_id)", T0, T1),
      PromQL.query(t, "predict_linear(click[7d], 0) by (user_id)", T0, T1)
        .select(col("user_id"), col("n"), col("slope_per_sec")))
    // bare deriv groups by the full label-key universe, like bare rate
    assert(PromQL.query(t, "deriv(click[7d])", T0, T1).columns.toSeq ==
      Seq("cohort", "user_id", "n", "slope_per_sec"))
    // slope is invariant under a pure time shift of the same points:
    // offset 1d over [T0+2d, T1] fits exactly the [T0+1d, T1-1d] window
    assertSame(
      PromQL.query(t, "deriv(click[5d] offset 1d) by (user_id)",
        T0 + 2 * 86400L, T1),
      PromQL.query(t, "predict_linear(click[5d], 0) by (user_id)",
          T0 + 86400L, T1 - 86400L)
        .select(col("user_id"), col("n"), col("slope_per_sec")))
  }

  test("label_replace / label_join are parser-reachable, bare and " +
      "under an aggregation") {
    // bare: the raw scan with the label map rewritten in flight
    val bare = PromQL.query(t,
      """label_replace(click, "band", "$1", "user_id", "(\\d)\\d*")""",
      T0, T1)
    val direct = t.queryRange("click", Seq.empty, T0, T1)
      .withColumn("labels", graft.functions.LabelFunctions.labelReplace(
        col("labels"), "band", "$1", "user_id", "(\\d)\\d*"))
    assert(bare.columns.toSeq == direct.columns.toSeq)
    assert(bare.select(col("labels").getItem("band")).distinct().count() ==
      direct.select(col("labels").getItem("band")).distinct().count())
    // under sum by: the rewrite runs before the grouping, fused into
    // the moments' single hash aggregation — band is user_id's first
    // digit, key the "-"-joined cohort and user_id
    assert(rowSet(PromQL.query(t,
        """sum by (band) (label_replace(click[1d], "band", "$1", """ +
          """"user_id", "(\\d)\\d*"))""", T0, T1),
        "band" +: MomentCols: _*) ==
      bucketed(clicks, T0, T1, 86400L)(s => Seq(s._2.take(1)))
        .map { case (k, ss) => k ++ moments(ss) }.toSet)
    assert(rowSet(PromQL.query(t,
        """sum by (key) (label_join(click[1d], "key", "-", "cohort", """ +
          """"user_id"))""", T0, T1), "key" +: MomentCols: _*) ==
      bucketed(clicks, T0, T1, 86400L)(s => Seq(s._1 + "-" + s._2))
        .map { case (k, ss) => k ++ moments(ss) }.toSet)
    // parse-render round-trip holds with escaped string args
    val s = """sum by (band) (label_replace(click[1d], "band", "$1", """ +
      """"user_id", "(\\d)\\d*"))"""
    assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
  }

  test("histogram_quantile bounds resolve from the le label domain") {
    // a histogram-shaped metric: one series per cumulative bucket, the
    // bound carried on the `le` label (the Prometheus convention)
    val bounds = Seq(5.0, 10.0, 25.0)
    val hist = events.where(col("metric") === "click")
      .withColumn("labels", map_concat(col("labels"),
        map(lit("le"), when(col("value") <= 5.0, "5")
          .when(col("value") <= 10.0, "10")
          .when(col("value") <= 25.0, "25").otherwise("+Inf"))))
    val th = Tsdb.attach(spark, hist)
    assertSame(
      PromQL.query(th, "histogram_quantile(0.9, click[1h]) by (cohort)",
        T0, T1),
      th.histogramQuantile("click", Seq.empty, T0, T1, Seq("cohort"),
        3600L, 0.9, bounds))
    // a metric with no le domain still demands explicit bounds
    val e = intercept[IllegalArgumentException](
      PromQL.query(t, "histogram_quantile(0.9, click[1h]) by (cohort)",
        T0, T1))
    assert(e.getMessage.contains("le"))
  }

  test("operator precedence follows Prometheus's ladder; parentheses " +
      "override") {
    // `a - b * 100` groups the multiply first (the round-5 flat ladder
    // mis-grouped this as `(a - b) * 100`)
    assert(PromQL.parse("a - b * 100") == PromQL.parse("a - (b * 100)"))
    assert(PromQL.parse("a - b * 100") != PromQL.parse("(a - b) * 100"))
    // `or` binds looser than `and`/`unless`
    assert(PromQL.parse("a or b and c") == PromQL.parse("a or (b and c)"))
    assert(PromQL.parse("a unless b or c") ==
      PromQL.parse("(a unless b) or c"))
    // comparison sits between the set ops and arithmetic
    assert(PromQL.parse("a > b + 5") == PromQL.parse("a > (b + 5)"))
    // render emits the parentheses the ladder needs: round-trip is exact
    Seq("a - (b * 100)", "(a - b) * 100", "a or (b and c)",
        "(a or b) and c").foreach { s =>
      val ast = PromQL.parse(s)
      assert(PromQL.parse(PromQL.render(ast)) == ast, s"round-trip: $s")
    }
    // a chained compilable shape still evaluates left-to-right per level
    val base = "sum by (cohort) (purchase[1h]) / sum by (cohort) (click[1h])"
    assertSame(
      PromQL.query(t, s"$base * 100 - 5", T0, T1),
      PromQL.query(t, s"($base * 100) - 5", T0, T1))
  }

  test("topk/bottomk over rate: the first k rows of the ranked sum by") {
    // rank the sum-by rows per bucket on the driver: increase, then the
    // cohort label breaks ties
    val sumBy = PromQL.query(t, "sum by (cohort) (rate(click[1h]))", T0, T1)
      .collect().toSeq
    def ranked(k: Int, desc: Boolean) = sumBy.groupBy(_.getLong(1)).values
      .flatMap(_.sortBy(r => (if (desc) -r.getDouble(2) else r.getDouble(2),
          r.getString(0))).take(k).zipWithIndex
        .map { case (r, i) => Seq[Any](r.get(0), r.get(1), i + 1, r.get(2),
          r.get(3)) })
      .toSet
    def rows(q: String) = {
      val df = PromQL.query(t, q, T0, T1)
      assert(df.columns.toSeq == Seq("cohort", "bucket_start", "rk",
        "increase", "rate_per_sec"))
      df.collect().map(_.toSeq).toSet
    }
    assert(rows("topk(3, sum by (cohort) (rate(click[1h])))") ==
      ranked(3, desc = true))
    assert(rows("bottomk(2, sum by (cohort) (increase(click[1h])))") ==
      ranked(2, desc = false))
    // top-1 and bottom-1 of the same grid never coincide when a bucket
    // has >1 distinct group increase
    val top = PromQL.query(t,
      "topk(1, sum by (cohort) (rate(click[1h])))", T0, T1)
    assert(top.where(col("rk") > 1).isEmpty)
    // round-trip through the canonical rendering
    val s = "topk(3, sum by (cohort) (rate(click[1h])))"
    assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
  }

  test("ignoring (labels) resolves to the on-complement of the coarse " +
      "side's grouping") {
    // group_left: ignoring(user_id) over a (cohort) coarse side ==
    // explicit on (cohort)
    val lhs = "sum by (cohort, user_id) (purchase[1d])"
    val rhs = "sum by (cohort) (click[1d])"
    assertSame(
      PromQL.query(t, s"$lhs / ignoring (user_id) group_left $rhs", T0, T1),
      PromQL.query(t, s"$lhs / on (cohort) group_left $rhs", T0, T1))
    // plain match: ignoring a label that is in neither grouping is the
    // bare vector match
    assertSame(
      PromQL.query(t,
        "sum by (cohort) (purchase[1h]) / ignoring (region) " +
          "sum by (cohort) (click[1h])", T0, T1),
      PromQL.query(t,
        "sum by (cohort) (purchase[1h]) / sum by (cohort) (click[1h])",
        T0, T1))
    // round-trip
    val s = s"$lhs / ignoring (user_id) group_left $rhs"
    assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
    // no aggregated side to take the complement from → loud failure
    val e = intercept[IllegalArgumentException](
      PromQL.query(t, "a / ignoring (l) b", T0, T1))
    assert(e.getMessage.contains("ignoring"))
  }

  test("bool compares take ignoring (...) and resolve it to the " +
      "on-complement, like the filter form") {
    // group_left bool: ignoring(user_id) over a (cohort) coarse side
    // == explicit on (cohort)
    val lhs = "sum by (cohort, user_id) (purchase[1d])"
    val rhs = "sum by (cohort) (click[1d])"
    assertSame(
      PromQL.query(t,
        s"$lhs > bool ignoring (user_id) group_left $rhs", T0, T1),
      PromQL.query(t, s"$lhs > bool on (cohort) group_left $rhs",
        T0, T1))
    // plain bool match: ignoring a label in neither grouping is the
    // bare bool vector match
    assertSame(
      PromQL.query(t,
        "sum by (cohort) (purchase[1h]) > bool ignoring (region) " +
          "sum by (cohort) (click[1h])", T0, T1),
      PromQL.query(t,
        "sum by (cohort) (purchase[1h]) > bool " +
          "sum by (cohort) (click[1h])", T0, T1))
    // round-trip through the canonical rendering
    val s = s"$lhs > bool ignoring (user_id) group_left $rhs"
    assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
    // carried labels still rejected on bool, ignoring or not
    val e = intercept[IllegalArgumentException](PromQL.parse(
      s"$lhs > bool ignoring (user_id) group_left(user_id) $rhs"))
    assert(e.getMessage.contains("bool"))
  }

  test("bool comparisons keep rows and emit the 0/1 vector") {
    val base = "sum by (cohort) (click[1h])"
    val filtered = PromQL.query(t, s"$base > 100", T0, T1)
    val booled = PromQL.query(t, s"$base > bool 100", T0, T1)
    val all = PromQL.query(t, base, T0, T1)
    // bool keeps every row of the unfiltered vector
    assert(booled.count() == all.count())
    // the 1-rows are exactly the filter-semantics survivors
    assert(booled.where(col("result") === 1.0).count() == filtered.count())
    assert(booled.select("result").distinct().collect()
      .map(_.getDouble(0)).toSet.subsetOf(Set(0.0, 1.0)))
    // round-trip
    val s = s"$base > bool 100"
    assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
  }

  test("quantile over rate: cross-series percentile of per-series " +
      "increase") {
    // the percentile of the per-series increases, on the driver
    assert(PromQL.query(t, "quantile by (cohort) (0.9, rate(click[1h]))",
        T0, T1).collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap ==
      incByCohort.map { case (k, vs) =>
        val p = percentileOf(vs.map(_.toDouble), 0.9)
        k -> (vs.size.toLong, round6(p), round6(p / 3600))
      })
    // continuous quantile at the endpoints is exactly the max/min
    // moment of the same per-series increases
    val moments = PromQL.query(t, "max by (cohort) (increase(click[1h]))",
      T0, T1)
      .select(col("cohort"), col("bucket_start"),
        round(col("max_increase"), 6).as("mx"),
        round(col("min_increase"), 6).as("mn"))
    val q1 = PromQL.query(t,
      "quantile by (cohort) (1.0, increase(click[1h]))", T0, T1)
    val q0 = PromQL.query(t,
      "quantile by (cohort) (0.0, increase(click[1h]))", T0, T1)
    assert(q1.join(moments, Seq("cohort", "bucket_start"))
      .where(col("q_increase") =!= col("mx")).isEmpty)
    assert(q0.join(moments, Seq("cohort", "bucket_start"))
      .where(col("q_increase") =!= col("mn")).isEmpty)
    // round-trip
    val s = "quantile by (cohort) (0.9, rate(click[1h]))"
    assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
  }

  test("time functions: grid-field arithmetic matches the UTC calendar") {
    val base = "sum by (cohort) (click[1h])"
    val fields: Seq[(String, java.time.ZonedDateTime => Int)] = Seq(
      "hour" -> (_.getHour),
      "minute" -> (_.getMinute),
      // java DayOfWeek: Monday=1..Sunday=7; Prometheus: Sunday=0
      "day_of_week" -> (_.getDayOfWeek.getValue % 7),
      "day_of_month" -> (_.getDayOfMonth),
      "day_of_year" -> (_.getDayOfYear),
      "days_in_month" -> (z => z.toLocalDate.lengthOfMonth),
      "month" -> (_.getMonthValue),
      "year" -> (_.getYear))
    fields.foreach { case (fn, f) =>
      val rows = PromQL.query(t, s"$fn($base)", T0, T1)
        .select("bucket_start", "result").distinct().collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val z = java.time.Instant.ofEpochSecond(r.getLong(0))
          .atZone(java.time.ZoneOffset.UTC)
        assert(r.getDouble(1) == f(z).toDouble,
          s"$fn at bucket ${r.getLong(0)}")
      }
    }
    // timestamp() exposes the grid second itself
    val ts = PromQL.query(t, s"timestamp($base)", T0, T1)
      .select("bucket_start", "result").collect()
    assert(ts.forall(r => r.getDouble(1) == r.getLong(0).toDouble))
    // composes with threshold filters: quiet-hours cells only
    val quiet = PromQL.query(t, s"hour($base) < 6", T0, T1)
    assert(quiet.select("result").distinct().collect()
      .map(_.getDouble(0)).forall(_ < 6))
    // round-trip
    val s = s"day_of_week($base)"
    assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
  }

  test("group aggregator emits 1.0 per populated cell; sort orders by " +
      "the value column") {
    val g = PromQL.query(t, "group by (cohort) (click[1h])", T0, T1)
    val cells = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
      .select("cohort", "bucket_start")
    assert(g.count() == cells.count())
    assert(g.select("group_v").distinct().collect()
      .map(_.getDouble(0)).toSeq == Seq(1.0))
    // sort_desc: first row carries the global max of the value column
    val sorted = PromQL.query(t,
      "sort_desc(sum by (cohort) (click[1h]))", T0, T1)
    val mx = sorted.agg(max("sum_v")).head().getDouble(0)
    assert(sorted.select("sum_v").head().getDouble(0) == mx)
    Seq("group by (cohort) (click[1h])",
        "sort(sum by (cohort) (click[1h]))").foreach { s =>
      assert(PromQL.parse(PromQL.render(PromQL.parse(s))) == PromQL.parse(s))
    }
  }

  test("arithmetic completeness: % ^ atan2 precedence, associativity, " +
      "values") {
    // ^ binds tighter than * and is RIGHT-associative
    assert(PromQL.parse("a * b ^ c") == PromQL.parse("a * (b ^ c)"))
    assert(PromQL.parse("a ^ b ^ c") == PromQL.parse("a ^ (b ^ c)"))
    assert(PromQL.parse("a ^ b ^ c") != PromQL.parse("(a ^ b) ^ c"))
    // % and atan2 share the * / level, left-associative
    assert(PromQL.parse("a % b * c") == PromQL.parse("(a % b) * c"))
    assert(PromQL.parse("a atan2 b * c") ==
      PromQL.parse("(a atan2 b) * c"))
    // render round-trips across the extended ladder
    Seq("a ^ (b ^ c)", "(a ^ b) ^ c", "a % b", "x atan2 100",
        "(a ^ b) * c", "a ^ (b * c)").foreach { q =>
      assert(PromQL.parse(PromQL.render(PromQL.parse(q))) ==
        PromQL.parse(q), s"round-trip: $q")
    }
    // compiled values ride the aggregated sum_v exactly
    val base = "sum by (cohort) (click[1h])"
    val powDf = PromQL.query(t, s"$base ^ 2", T0, T1)
    assert(powDf.where(abs(col("result") -
      round(col("sum_v") * col("sum_v"), 6)) > 1e-9).isEmpty)
    val modDf = PromQL.query(t, s"$base % 7", T0, T1)
    assert(modDf.where(abs(col("result") -
      round(col("sum_v").cast("double") % 7.0, 6)) > 1e-9).isEmpty)
    assert(modDf.count() > 0)
  }

  test("trig family, deg/rad, pi()") {
    assert(PromQL.parse("pi()") == PromQL.NumLit(math.Pi))
    assert(PromQL.parse("a * pi()") ==
      PromQL.BinOp("*", PromQL.parse("a"), PromQL.NumLit(math.Pi)))
    val base = "sum by (cohort) (click[1h])"
    val sinDf = PromQL.query(t, s"sin($base)", T0, T1)
    assert(sinDf.where(abs(col("result") -
      round(sin(col("sum_v").cast("double")), 6)) > 1e-9).isEmpty)
    // deg(atan(v)) lands in (0, 90) for positive sums
    val degDf = PromQL.query(t, s"deg(atan($base))", T0, T1)
    assert(degDf.where(col("result") <= 0 || col("result") >= 90).isEmpty)
    assert(degDf.count() > 0)
    // round-trip the new function names
    Seq("sin(sum by (cohort) (click[1h]))", "deg(atan(x))",
        "tanh(rad(x))").foreach { q =>
      assert(PromQL.parse(PromQL.render(PromQL.parse(q))) ==
        PromQL.parse(q), s"round-trip: $q")
    }
  }

  test("@ modifier pins evaluation to the bucket containing the " +
      "instant; start()/end() resolve against the window; mixed fails") {
    val at = 1704682800L
    assertSame(
      PromQL.query(t, s"sum by (cohort) (click[1h] @ $at)", T0, T1),
      PromQL.query(t, "sum by (cohort) (click[1h])", at, at + 3599L))
    // @ start() == pinning at the window's left edge
    assertSame(
      PromQL.query(t, "sum by (cohort) (click[1h] @ start())", T0, T1),
      PromQL.query(t, "sum by (cohort) (click[1h])", T0, T0 + 3599L))
    // @ end(): T1 is the last second of its bucket on this grid
    assertSame(
      PromQL.query(t, "sum by (cohort) (click[1h] @ end())", T0, T1),
      PromQL.query(t, "sum by (cohort) (click[1h])", T1 - 3599L, T1))
    // offset composes on top of the pinned bucket
    assertSame(
      PromQL.query(t,
        s"sum by (cohort) (click[1h] offset 1d @ ${at + 86400L})", T0, T1),
      PromQL.query(t, "sum by (cohort) (click[1h])", at, at + 3599L)
        .withColumn("bucket_start", col("bucket_start") + 86400L)
        .orderBy("cohort", "bucket_start"))
    // mixed pinned/moving selectors have no single grid
    val e1 = intercept[IllegalArgumentException](PromQL.query(t,
      s"sum by (cohort) (purchase[1h] @ $at) / " +
        "sum by (cohort) (click[1h])", T0, T1))
    assert(e1.getMessage.contains("@ modifier"))
    // two different pinned instants fail too
    val e2 = intercept[IllegalArgumentException](PromQL.query(t,
      s"sum by (cohort) (purchase[1h] @ $at) / " +
        s"sum by (cohort) (click[1h] @ ${at + 3600L})", T0, T1))
    assert(e2.getMessage.contains("same instant"))
    // render round-trips both orders and both boundary forms
    Seq("x[3600s] @ start()", "x[3600s] @ end()",
        s"x[3600s] offset 60s @ $at").foreach { q =>
      assert(PromQL.parse(PromQL.render(PromQL.parse(q))) ==
        PromQL.parse(q), s"round-trip: $q")
    }
    // @ before offset parses to the same AST as offset before @
    assert(PromQL.parse(s"x[1h] @ $at offset 60s") ==
      PromQL.parse(s"x[1h] offset 60s @ $at"))
  }

  test("vector-vector compares: bool keeps every matched row as 0/1, " +
      "the filter form keeps predicate-true rows with the lhs value") {
    val matched = PromQL.query(t,
      "sum by (cohort) (purchase[1h]) / sum by (cohort) (click[1h])",
      T0, T1)
    val booled = PromQL.query(t,
      "sum by (cohort) (purchase[1h]) > bool sum by (cohort) (click[1h])",
      T0, T1)
    // bool preserves the full inner match (same (cohort, bucket) keys
    // as the ratio) and only emits 0/1
    assert(booled.count() == matched.count())
    assert(booled.select("result").distinct().collect()
      .map(_.getDouble(0)).toSet.subsetOf(Set(0.0, 1.0)))
    val filtered = PromQL.query(t,
      "sum by (cohort) (purchase[1h]) > sum by (cohort) (click[1h])",
      T0, T1)
    // filter form == the bool form's 1-rows, value = the lhs sum
    assert(filtered.count() ==
      booled.where(col("result") === 1.0).count())
    assert(filtered.where(col("result") =!= col("sum_a")).count() == 0L)
    assert(filtered.where(col("sum_a") <= col("sum_b")).count() == 0L)
  }

  test("generic vector matches: on() projection, group_left/right, " +
      "counter-family sides") {
    // one-to-many projected compare: per-user max vs cohort avg
    val cmpOn = PromQL.query(t,
      "max by (cohort, user_id) (click[1h]) > on (cohort) group_left " +
        "avg by (cohort) (click[1h])", T0, T1)
    val perUser = PromQL.query(t,
      "max by (cohort, user_id) (click[1h])", T0, T1)
      .select(col("cohort"), col("user_id"), col("bucket_start"),
        col("max_v"))
    val perCohort = PromQL.query(t, "avg by (cohort) (click[1h])", T0, T1)
      .select(col("cohort"), col("bucket_start"), col("avg_v"))
    val expected = perUser.join(perCohort, Seq("cohort", "bucket_start"))
      .where(col("max_v") > col("avg_v"))
    assert(cmpOn.count() > 0 && cmpOn.count() == expected.count())
    // the kept value is the LEFT side's (the per-user max)
    assert(cmpOn.where(col("result") =!= col("sum_a")).isEmpty)
    val bad = cmpOn.join(expected, Seq("cohort", "user_id", "bucket_start"))
      .where(col("sum_a") =!= col("max_v") || col("sum_b") =!= col("avg_v"))
    assert(bad.isEmpty)
    // group_right mirror keeps the many (right) side's labels but still
    // passes the LEFT operand's value through
    val cmpGr = PromQL.query(t,
      "avg by (cohort) (click[1h]) < on (cohort) group_right " +
        "max by (cohort, user_id) (click[1h])", T0, T1)
    assert(cmpGr.count() == cmpOn.count())
    assert(cmpGr.columns.contains("user_id"))
    assert(cmpGr.where(col("result") =!= col("sum_a")).isEmpty)
    // counter-family compare: per-cohort click rate vs purchase rate
    val cmpRate = PromQL.query(t,
      "sum by (cohort) (rate(click[1h])) > " +
        "sum by (cohort) (rate(purchase[1h]))", T0, T1)
    val rc = PromQL.query(t, "sum by (cohort) (rate(click[1h]))", T0, T1)
      .select(col("cohort"), col("bucket_start"),
        col("rate_per_sec").as("ra"))
    val rp = PromQL.query(t, "sum by (cohort) (rate(purchase[1h]))", T0, T1)
      .select(col("cohort"), col("bucket_start"),
        col("rate_per_sec").as("rb"))
    val expRate = rc.join(rp, Seq("cohort", "bucket_start"))
      .where(col("ra") > col("rb"))
    assert(cmpRate.count() == expRate.count())
    // arithmetic over counter-family sides: the error-ratio idiom
    val ratio = PromQL.query(t,
      "sum by (cohort) (rate(purchase[1h])) / " +
        "sum by (cohort) (rate(click[1h]))", T0, T1)
    val expRatio = rc.join(rp, Seq("cohort", "bucket_start"))
    assert(ratio.count() == expRatio.count())
    assert(ratio.join(expRatio, Seq("cohort", "bucket_start"))
      .where(abs(col("result") - round(col("rb") / col("ra"), 6)) > 1e-9)
      .isEmpty)
    // bool over counter-family sides
    val boolRate = PromQL.query(t,
      "sum by (cohort) (rate(click[1h])) > bool " +
        "sum by (cohort) (rate(purchase[1h]))", T0, T1)
    assert(boolRate.count() == expRatio.count())
    assert(boolRate.where(col("result") === 1.0).count() == cmpRate.count())
    // loud failures: distinct grains without a group modifier, and
    // carried labels outside the moment-aggregation path
    val e1 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort, user_id) (rate(click[1h])) > " +
        "sum by (cohort) (rate(purchase[1h]))", T0, T1))
    assert(e1.getMessage.contains("group_left"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort, user_id) (rate(click[1h])) > on (cohort) " +
        "group_left sum by (cohort, user_id) (rate(purchase[1h]))",
      T0, T1))
    assert(e2.getMessage.contains("moment aggregations only"),
      e2.getMessage)
    // compare WITH carried labels between moment aggregations rides the
    // guarded group_left join: rhs aggregates at on+carry, the carry
    // (cohort, functionally determined by user_id) rides onto the
    // surviving rows
    val carryCmp = PromQL.query(t,
      "sum by (user_id) (purchase[1h]) < on (user_id) " +
        "group_left(cohort) max by (user_id, cohort) (click[1h])",
      T0, T1)
    assert(carryCmp.columns.contains("cohort") &&
      carryCmp.where(col("sum_a") >= col("sum_b")).isEmpty)
    // bool with matching modifiers: on() projection at the shared
    // grouping, and group_left at distinct grains — 0/1 indicator over
    // ALL matched rows (nothing dropped)
    val boolOn = PromQL.query(t,
      "sum by (cohort) (purchase[1h]) > bool on (cohort) " +
        "sum by (cohort) (click[1h])", T0, T1)
    val boolPlain = PromQL.query(t,
      "sum by (cohort) (purchase[1h]) > bool sum by (cohort) (click[1h])",
      T0, T1)
    assert(boolOn.count() == boolPlain.count())
    val boolGl = PromQL.query(t,
      "max by (cohort, user_id) (click[1h]) > bool on (cohort) " +
        "group_left avg by (cohort) (click[1h])", T0, T1)
    assert(boolGl.count() > cmpOn.count()) // keeps rows filter drops
    assert(boolGl.where(col("result") === 1.0).count() == cmpOn.count())
    // round trip with modifiers
    val qb = "max by (cohort, user_id) (click[1h]) > bool on (cohort) " +
      "group_left avg by (cohort) (click[1h])"
    assert(PromQL.parse(PromQL.render(PromQL.parse(qb))) == PromQL.parse(qb))
    // bool ignoring PARSES now (resolved to on-complement elsewhere),
    // but still fails loudly when no aggregated side provides the
    // label set to complement; carried labels stay a parse error
    val eb1 = intercept[IllegalArgumentException](
      PromQL.query(t, "a > bool ignoring (l) b", T0, T1))
    assert(eb1.getMessage.contains("ignoring"), eb1.getMessage)
    val eb2 = intercept[IllegalArgumentException](PromQL.parse(
      "a > bool on (l) group_left(x) b"))
    assert(eb2.getMessage.contains("do not carry"), eb2.getMessage)
    // a modifier on a SCALAR bool side is rejected, never silently
    // discarded (the scalar cases match the empty on-list only)
    intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort) (click[1h]) > bool on (cohort) 0.5", T0, T1))
    // the un-annotated bool group_left form cannot carry implicitly
    // either: the one side must aggregate exactly at the on-labels
    val eb3 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort) (purchase[1h]) > bool on (cohort) group_left " +
        "max by (cohort, user_id) (click[1h])", T0, T1))
    assert(eb3.getMessage.contains("does not carry"), eb3.getMessage)
    // misaligned offsets would make the grid join silently empty — the
    // compiler rejects them; step-multiple offsets stay compilable
    val e3 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort) (rate(click[3600] offset 1800s)) > " +
        "sum by (cohort) (rate(purchase[3600]))", T0, T1))
    assert(e3.getMessage.contains("congruent"), e3.getMessage)
    // the moment-aggregation forms take the same check (an hourly side
    // offset 30m used to join to no rows)
    for (op <- Seq("/", ">", "> bool", "/ on (cohort) group_left")) {
      val q = s"sum by (cohort, user_id) (click[1h] offset 30m) $op " +
        (if (op.contains("group_left")) "sum by (cohort) (purchase[1h])"
          else "sum by (cohort, user_id) (purchase[1h])")
      val e = intercept[IllegalArgumentException](PromQL.query(t, q, T0, T1))
      assert(e.getMessage.contains("congruent"), q)
    }
    assert(PromQL.query(t,
      "sum by (cohort) (rate(click[3600] offset 3600s)) > " +
        "sum by (cohort) (rate(purchase[3600]))", T0, T1).columns
      .contains("result"))
  }

  test("bool between non-aggregated vectors names the restriction; " +
      "plain ignoring no longer demands an aggregated rhs at resolve " +
      "time") {
    val e = intercept[IllegalArgumentException](PromQL.query(t,
      "purchase > bool click", T0, T1))
    assert(e.getMessage.contains("matching aggregations"))
    // plain-match ignoring with a non-aggregated rhs resolves its
    // on-labels from the LHS grouping now — the failure (if any) comes
    // from the compiler's shape support, not the resolve pass
    val e2 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort) (purchase[1h]) / ignoring (user_id) click",
      T0, T1))
    assert(!e2.getMessage.contains("needs an aggregated side"))
  }

  test("holt_winters == a driver-side replay of Prometheus's recurrence") {
    val df = PromQL.query(t,
      "holt_winters(click[7200:3600], 0.5, 0.5)", T0, T1)
    assert(df.columns.toSeq ==
      Seq("cohort", "user_id", "eval_ts", "n", "hw_v"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2)) -> r.getDouble(4)).toMap
    assert(got.nonEmpty)
    // replay: windowed samples per (series, eval point), ts-then-value
    // order, s/b fold with sf = tf = 0.5
    val samples = t.queryRange("click", Seq.empty, T0 - 7200 + 1, T1)
      .select(col("labels").getItem("cohort").as("cohort"),
        col("labels").getItem("user_id").as("user_id"),
        col("ts"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val gridStart = ((T0 + 3599) / 3600) * 3600
    val expected = scala.collection.mutable.Map.empty[(String, String, Long), Double]
    val byKey = samples.groupBy { case (c, u, _, _) => (c, u) }
    for (((c, u), rows) <- byKey; e <- gridStart to T1 by 3600) {
      val xs = rows.filter { case (_, _, ts, _) => ts <= e && ts > e - 7200 }
        .sortBy { case (_, _, ts, v) => (ts, v) }.map(_._4)
      if (xs.length >= 2) {
        var sAcc = xs(0); var b = xs(1) - xs(0)
        for (i <- 1 until xs.length) {
          val sNew = 0.5 * xs(i) + 0.5 * (sAcc + b)
          b = 0.5 * (sNew - sAcc) + 0.5 * b
          sAcc = sNew
        }
        expected((c, u, e)) = math.rint(sAcc * 1e6) / 1e6
      }
    }
    assert(got.keySet == expected.keySet,
      s"grid mismatch: ${got.keySet.diff(expected.keySet).take(3)} / " +
        s"${expected.keySet.diff(got.keySet).take(3)}")
    val bad = got.collect {
      case (k, v) if math.abs(v - expected(k)) > 1e-6 => (k, v, expected(k))
    }
    assert(bad.isEmpty, s"values differ: ${bad.take(3)}")
    // fewer than 2 samples in the window emits nothing
    assert(df.where(col("n") < 2).isEmpty)
    // render round-trip
    val q = "holt_winters(click[7200s:3600s], 0.5, 0.5)"
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
    // out-of-range smoothing factors fail loudly
    val e1 = intercept[IllegalArgumentException](PromQL.query(t,
      "holt_winters(click[7200:3600], 1.5, 0.5)", T0, T1))
    assert(e1.getMessage.contains("smoothing"))
  }

  test("time() composes as the per-step grid timestamp") {
    val base = "sum by (cohort) (click[1h])"
    val df = PromQL.query(t, s"$base - time()", T0, T1)
    assert(df.where(abs(col("result") -
      (col("sum_v") - col("bucket_start").cast("double"))) > 1e-9).isEmpty)
    assert(df.count() > 0)
    // comparison side: every bucket value is far below its epoch ts
    assert(PromQL.query(t, s"$base > time()", T0, T1).isEmpty)
    assert(PromQL.query(t, s"time() > $base", T0, T1).count() == df.count())
    // round-trip and standalone failure
    val q = s"$base - time()"
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
    intercept[IllegalArgumentException](PromQL.query(t, "time()", T0, T1))
    // COMPOSITE scalar sides: the business-hours idiom and nested
    // constants ride the same paths
    val dfMod = PromQL.query(t, s"$base - time() % 86400", T0, T1)
    assert(dfMod.where(abs(col("result") - (col("sum_v") -
      round(col("bucket_start").cast("double") % 86400.0, 6))) > 1e-9)
      .isEmpty)
    assert(PromQL.query(t, s"$base > time() % 86400", T0, T1).count() +
      PromQL.query(t, s"$base <= time() % 86400", T0, T1).count() ==
      PromQL.query(t, base, T0, T1).count())
    val dfConst = PromQL.query(t, s"$base * (2 + 3)", T0, T1)
    assert(dfConst.where(abs(col("result") - col("sum_v") * 5.0) > 1e-9)
      .isEmpty)
    // a pure-scalar query still fails loudly
    intercept[IllegalArgumentException](
      PromQL.query(t, "time() % 86400", T0, T1))
    // scalar-op-result composing over a previous result column never
    // duplicates it (the (x * 2) / scalar(...) shape)
    val dfShare2 = PromQL.query(t,
      s"($base * 2) / scalar(sum(click[1h]))", T0, T1)
    assert(dfShare2.columns.count(_ == "result") == 1)
    // holt_winters over a non-selector argument names the restriction
    val eh = intercept[IllegalArgumentException](PromQL.query(t,
      "holt_winters(sum by (cohort) (click[1h]), 0.5, 0.5)", T0, T1))
    assert(eh.getMessage.contains("bare ranged selector"))
  }

  test("standalone time()/scalar expressions run on an API-step grid") {
    // time() as an instant vector: one row per step, result = the
    // bucket timestamp — Prometheus query_range over a scalar
    val df = PromQL.query(t, "time()", T0, T1, stepSec = Some(3600L))
      .orderBy("bucket_start")
    val nBuckets = (T1 - T0) / 3600 + 1
    assert(df.count() == nBuckets)
    assert(df.columns.toSeq == Seq("bucket_start", "result"))
    assert(df.where(col("result") =!=
      col("bucket_start").cast("double")).isEmpty)
    // scalar arithmetic composes on the grid: second-of-day
    val dfMod = PromQL.query(t, "time() % 86400", T0, T1,
      stepSec = Some(7200L))
    assert(dfMod.count() == (T1 - T0) / 7200 + 1)
    assert(dfMod.where(abs(col("result") -
      round(col("bucket_start").cast("double") % 86400.0, 6)) > 1e-9)
      .isEmpty)
    // a pure literal is a constant series on the grid
    val dfLit = PromQL.query(t, "2 + 3", T0, T1, stepSec = Some(3600L))
    assert(dfLit.count() == nBuckets &&
      dfLit.where(col("result") =!= 5.0).isEmpty)
    // stepSec with a VECTOR query is rejected loudly, never ignored
    val ev = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort) (click[1h])", T0, T1, stepSec = Some(60L)))
    assert(ev.getMessage.contains("remove stepSec"), ev.getMessage)
    intercept[IllegalArgumentException](
      PromQL.query(t, "time()", T0, T1, stepSec = Some(0L)))
  }

  test("vector() gap-fills the `or` rhs on the lhs bucket grid") {
    val q = "sum(purchase[3600]) or vector(0)"
    val df = PromQL.query(t, q, T0, T1)
    // one row for EVERY hour of the window: (T1-T0+1)/3600 = 168
    assert(df.count() == 168)
    assert(df.columns.toSeq == Seq("bucket_start", "sum_v"))
    // occupied buckets carry the direct aggregation's values verbatim
    val direct = PromQL.query(t, "sum(purchase[3600])", T0, T1)
      .select(col("bucket_start"), col("sum_v"))
    assertSame(
      df.join(direct.select("bucket_start"), Seq("bucket_start"),
        "left_semi"),
      direct)
    // the filled buckets are exactly the grid minus the occupied ones,
    // all zero
    val fills = df.join(direct.select("bucket_start"), Seq("bucket_start"),
      "left_anti")
    assert(fills.count() == 168 - direct.count())
    assert(fills.where(col("sum_v") =!= 0.0).isEmpty)
    // the fill scalar evaluates ON the grid: vector(time()) fills holes
    // with the bucket timestamp itself
    val dfT = PromQL.query(t,
      "sum(purchase[3600]) or vector(time())", T0, T1)
    assert(dfT.join(direct.select("bucket_start"), Seq("bucket_start"),
        "left_anti")
      .where(col("sum_v") =!= col("bucket_start").cast("double")).isEmpty)
    // round trip through the renderer
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
    // loud failures: labeled lhs, standalone vector(), non-scalar arg
    val e1 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort) (click[1h]) or vector(0)", T0, T1))
    assert(e1.getMessage.contains("global"))
    val e2 = intercept[IllegalArgumentException](
      PromQL.query(t, "vector(1)", T0, T1))
    assert(e2.getMessage.contains("right side of `or`"))
    val e3 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum(click[1h]) or vector(sum(click[1h]))", T0, T1))
    assert(e3.getMessage.contains("scalar argument"))
  }

  test("sort_by_label orders the result by label values") {
    val q = """sort_by_label(sum by (cohort) (click[1h]), "cohort")"""
    val df = PromQL.query(t, q, T0, T1)
    val cohorts = df.select("cohort").collect().map(_.getString(0)).toSeq
    assert(cohorts == cohorts.sorted && df.count() > 0)
    val dfD = PromQL.query(t,
      """sort_by_label_desc(sum by (cohort) (click[1h]), "cohort")""",
      T0, T1)
    val cohortsD = dfD.select("cohort").collect().map(_.getString(0)).toSeq
    assert(cohortsD == cohortsD.sorted.reverse)
    // same rows as the unsorted form
    assertSame(df.orderBy("cohort", "bucket_start"),
      PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
        .orderBy("cohort", "bucket_start"))
    // round trip
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
    // composes: the sorted vector still carries its value column and
    // grouping (threshold filters work over it)
    assert(PromQL.query(t, q + " > 5", T0, T1).count() ==
      PromQL.query(t, "sum by (cohort) (click[1h]) > 5", T0, T1).count())
    // unknown labels, NON-label columns, bare selectors, and
    // inside-aggregation placement all fail loudly
    val e1 = intercept[IllegalArgumentException](PromQL.query(t,
      """sort_by_label(sum by (cohort) (click[1h]), "nope")""", T0, T1))
    assert(e1.getMessage.contains("grouping labels"), e1.getMessage)
    val e1b = intercept[IllegalArgumentException](PromQL.query(t,
      """sort_by_label(sum by (cohort) (click[1h]), "sum_v")""", T0, T1))
    assert(e1b.getMessage.contains("grouping labels"), e1b.getMessage)
    val e1c = intercept[IllegalArgumentException](PromQL.query(t,
      """sort_by_label(click[1h], "cohort")""", T0, T1))
    assert(e1c.getMessage.contains("aggregated vector"), e1c.getMessage)
    val e2 = intercept[IllegalArgumentException](PromQL.query(t,
      """sum by (cohort) (sort_by_label(click[1h], "cohort"))""", T0, T1))
    assert(e2.getMessage.contains("does not rewrite labels"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      PromQL.parse("sort_by_label(sum(click[1h]))"))
    assert(e3.getMessage.contains("at least 1 label"), e3.getMessage)
  }

  test("scalar() and `or vector` reject an eval_ts-timed operand by name") {
    // their joins meet on bucket_start; a subquery is timed on eval_ts
    for (q <- Seq(
        "scalar(max_over_time(sum(rate(click[1h]))[6h:1h]))",
        "max_over_time(sum(rate(click[1h]))[6h:1h]) or vector(0)",
        "max_over_time(sum by (cohort) (rate(click[1h]))[6h:1h]) / " +
          "scalar(sum(click[6h]))")) {
      val e = intercept[IllegalArgumentException](
        PromQL.query(t, q, T0, T1))
      assert(e.getMessage.contains("bucket_start-timed") &&
        e.getMessage.contains("eval_ts"), s"$q: ${e.getMessage}")
    }
  }

  test("scalar(): share-of-total joins the global per-bucket aggregate") {
    val df = PromQL.query(t,
      "sum by (cohort) (click[1h]) / scalar(sum(click[1h]))", T0, T1)
    // per bucket, the shares sum to 1 (each bucket's cohort sums / total)
    val sums = df.groupBy("bucket_start")
      .agg(sum("result").as("s")).where(abs(col("s") - 1.0) > 1e-4)
    assert(sums.isEmpty)
    // spot equality vs the hand-built ratio
    val direct = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
      .select(col("cohort"), col("bucket_start"), col("sum_v"))
    val tot = PromQL.query(t, "sum(click[1h])", T0, T1)
      .select(col("bucket_start"), col("sum_v").as("tv"))
    val exp = direct.join(tot, "bucket_start")
      .withColumn("expect", round(col("sum_v") / col("tv"), 6))
      .select("cohort", "bucket_start", "expect")
    val bad = df.join(exp, Seq("cohort", "bucket_start"))
      .where(abs(col("result") - col("expect")) > 1e-9)
    assert(bad.isEmpty)
    // mirrored form compiles too
    assert(PromQL.query(t,
      "scalar(sum(click[1h])) - sum by (cohort) (click[1h])", T0, T1)
      .count() == df.count())
    // a grouped scalar() argument is rejected at compile time
    val e1 = intercept[IllegalArgumentException](PromQL.query(t,
      "sum by (cohort) (click[1h]) / scalar(sum by (cohort) (click[1h]))",
      T0, T1))
    assert(e1.getMessage.contains("global"))
    // standalone scalar(agg): one row per grid bucket across the whole
    // window, result = the global aggregate, NaN on empty buckets
    val alone = PromQL.query(t, "scalar(sum(click[1h]))", T0, T1)
      .orderBy("bucket_start")
    val nBuckets = (T1 - T0) / 3600 + 1
    assert(alone.count() == nBuckets, s"grid rows: ${alone.count()}")
    assert(alone.columns.toSeq == Seq("bucket_start", "result"))
    // where the aggregation has data, the scalar equals it exactly
    val badAlone = alone.join(tot, "bucket_start")
      .where(col("result") =!= col("tv"))
    assert(badAlone.isEmpty)
    // buckets with no samples surface Prometheus's NaN, not a dropped row
    assert(alone.where(isnan(col("result"))).count() ==
      nBuckets - tot.count())
  }

  test("alerting rules: `for` escalates pending→firing, a gap resets") {
    import graft.promql.Rules
    // hand-built series: active at hours 0-3, a hole at 4, active 5-6.
    // With for=2h: run one fires from its 3rd step (h2, h3); the
    // post-gap run restarts the clock (h5, h6 pending again).
    val base = T0
    val samples = spark.createDataFrame(
      Seq(0L, 1L, 2L, 3L, 5L, 6L).map(h => (base + h * 3600, 10.0)))
      .toDF("ts", "value")
      .select(lit("m").as("metric"),
        map(lit("site"), lit("a")).as("labels"),
        col("ts"), col("value"))
    val tt = Tsdb.attach(spark, samples)
    val out = Rules.alerts(tt,
      Rules.AlertRule("r", "sum by (site) (m[3600]) > 1", forSec = 7200L),
      base, base + 7 * 3600 - 1)
      .orderBy("bucket_start")
      .select("site", "bucket_start", "state").collect()
      .map(r => (r.getLong(1) - base) / 3600 -> r.getString(2)).toSeq
    assert(out == Seq(0L -> "pending", 1L -> "pending", 2L -> "firing",
      3L -> "firing", 5L -> "pending", 6L -> "pending"))
    // for=0 fires immediately at every active step
    val all = Rules.alerts(tt,
      Rules.AlertRule("r", "sum by (site) (m[3600]) > 1", forSec = 0L),
      base, base + 7 * 3600 - 1)
    assert(all.where(col("state") =!= "firing").isEmpty)
    assert(all.count() == 6)
    // static labels ride along as columns; value is the expr's value
    val lab = Rules.alerts(tt,
      Rules.AlertRule("r", "sum by (site) (m[3600]) > 1", 0L,
        Map("severity" -> "page")),
      base, base + 7 * 3600 - 1)
    assert(lab.columns.toSeq ==
      Seq("alertname", "severity", "site", "bucket_start", "value",
        "state"))
    assert(lab.where(col("severity") =!= "page" ||
      col("value") =!= 10.0).isEmpty)
    // a non-aggregated expression is rejected loudly
    val e = intercept[IllegalArgumentException](Rules.alerts(tt,
      Rules.AlertRule("r", "m[3600]", 0L), base, base + 3600))
    assert(e.getMessage.contains("aggregated vector"))
    // irate/idelta trailing-by frames stay at per-sid grain (multiple
    // rows per (by-labels, grid point)) — the rules path must reject
    // them, not run the one-row-per-bucket islands window over them
    for (fn <- Seq("irate", "idelta")) {
      val e2 = intercept[IllegalArgumentException](Rules.alerts(tt,
        Rules.AlertRule("r", s"$fn(m[3600]) by (site) > 0.1", 0L),
        base, base + 3600))
      assert(e2.getMessage.contains("aggregated vector"), fn)
    }
  }

  test("recording rules: materialize, re-attach, read back equal") {
    import graft.promql.Rules
    val rec = Rules.record(t,
      Rules.RecordingRule("cohort:click:sum1h",
        "sum by (cohort) (click[1h])", Map("job" -> "rules")),
      T0, T1)
    assert(rec.columns.toSeq == Seq("metric", "labels", "ts", "value"))
    // the emitted samples round-trip: a fresh TSDB over them serves the
    // recorded metric with values equal to the direct aggregation
    val back = Tsdb.attach(spark, rec)
      .queryRange("cohort:click:sum1h", Seq.empty, T0, T1)
      .select(col("labels").getItem("cohort").as("cohort"),
        col("ts").as("bucket_start"), col("value"))
    val direct = PromQL.query(t, "sum by (cohort) (click[1h])", T0, T1)
      .select(col("cohort"), col("bucket_start"),
        col("sum_v").as("value"))
    assertSame(back.orderBy("cohort", "bucket_start"),
      direct.orderBy("cohort", "bucket_start"))
    // and the recorded metric is itself PromQL-addressable
    val again = PromQL.query(Tsdb.attach(spark, rec),
      "max by (job) (cohort:click:sum1h[1d])", T0, T1)
    assert(again.count() > 0)
    // invalid metric names are rejected before any compute
    val e = intercept[IllegalArgumentException](Rules.record(t,
      Rules.RecordingRule("not a metric!", "sum(click[1h])"), T0, T1))
    assert(e.getMessage.contains("invalid metric name"))
  }

  test("vector match pairs NULL grouping keys: absent label matches " +
      "absent, like Prometheus labelset identity") {
    // heterogeneous universe: only user_id % 3 == 0 rows carry shard, so
    // `by (cohort, shard)` groups two-thirds of the series under a NULL
    // shard — a plain USING join (EqualTo) would silently drop those
    // groups from the vector match; Tsdb.nullSafeEquiJoin must keep them
    val het = graft.sources.Tables.events(spark, sf0001).select(
      col("event_type").as("metric"),
      map_filter(map(
        lit("cohort"), pmod(col("user_id"), lit(10)).cast("string"),
        lit("shard"), when(pmod(col("user_id"), lit(3)) === 0,
          pmod(col("user_id"), lit(2)).cast("string"))),
        (_, v) => v.isNotNull).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    val th = Tsdb.attach(spark, het)
    val got = PromQL.query(th,
      "sum by (cohort, shard) (click[1h]) / " +
        "sum by (cohort, shard) (view[1h])", T0, T1)
      .localCheckpoint()
    // expected match cardinality: (group, bucket) keys present on BOTH
    // sides under null-safe identity, computed via sentinel strings
    def keys(metric: String) =
      PromQL.query(th, s"sum by (cohort, shard) ($metric[1h])", T0, T1)
        .select(concat_ws("\u0001",
          coalesce(col("cohort"), lit("\u0002")),
          coalesce(col("shard"), lit("\u0002")),
          col("bucket_start").cast("string")).as("k"))
        .collect().map(_.getString(0)).toSet
    val expected = keys("click") intersect keys("view")
    assert(got.count() == expected.size,
      s"match count ${got.count()} vs null-safe key intersection " +
        s"${expected.size}")
    assert(got.where(col("shard").isNull).count() > 0,
      "no NULL-shard groups survived the vector match")
    // one NULL-shard group's ratio equals the independently computed
    // decimal-sum ratio (PromQL `/` rounds to 6 decimals)
    val row = got.where(col("shard").isNull)
      .orderBy("cohort", "bucket_start").head()
    val c = row.getAs[String]("cohort")
    val b = row.getAs[Long]("bucket_start")
    def sideSum(metric: String): Double = het
      .where(col("metric") === metric &&
        col("labels").getItem("cohort") === c &&
        col("labels").getItem("shard").isNull &&
        col("ts") >= b && col("ts") < b + 3600)
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
      .head().getDouble(0)
    val want = BigDecimal(sideSum("click") / sideSum("view"))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(row.getAs[Double]("result") - want) < 1e-9,
      s"ratio ${row.getAs[Double]("result")} vs $want")
  }

  test("without-grouped ratio across metrics with DIFFERENT label-key " +
      "universes resolves against the union of both sides") {
    import spark.implicits._
    // metric a: {cohort, noise, sometimes shard}; metric b: {cohort,
    // noise} only — per-metric without-resolution would produce unequal
    // by-lists ({cohort, shard} vs {cohort}) and reject a rule the
    // streaming engine (per-row remaining-label keys) runs fine
    val rows = (0 until 240).flatMap { i =>
      val ts = T0 + i * 600L
      val shard =
        if (i % 3 == 0) Map("shard" -> (i % 2).toString)
        else Map.empty[String, String]
      Seq(
        ("a", Map("cohort" -> (i % 4).toString,
          "noise" -> (i % 5).toString) ++ shard, ts, (i % 7 + 1).toDouble),
        ("b", Map("cohort" -> (i % 4).toString,
          "noise" -> (i % 3).toString), ts, (i % 5 + 1).toDouble))
    }
    val th = Tsdb.attach(spark, rows.toDF("metric", "labels", "ts", "value"))
    val wo = PromQL.query(th,
      "sum without (noise) (a[3600]) / sum without (noise) (b[3600])",
      T0, T0 + 86400)
    // equivalent explicit-by form over the union-minus-excluded list
    val by = PromQL.query(th,
      "sum by (cohort, shard) (a[3600]) / sum by (cohort, shard) (b[3600])",
      T0, T0 + 86400)
    assertSame(wo, by)
    // only the null-shard groups exist on BOTH sides (b never carries
    // shard) — nonempty proves the null-safe match at union grain
    val got = wo.collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[String]("shard") == null))
  }

  test("nested subquery: max_over_time(rate(click[1h])[6h:1h]) equals an " +
      "independent slide over the inner grid; unsupported shapes fail fast") {
    val q = "max_over_time(rate(click[3600]) by (cohort) [21600:3600])"
    val got = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.nonEmpty)
    // independent recomputation: collect the inner sliding-rate grid and
    // slide the 6h max window over it in plain Scala
    val inner = PromQL.query(t, "rate(click[3600:3600]) by (cohort)",
        T0 - 21600, T1)
      .select("cohort", "eval_ts", "rate_per_sec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val gridStart = (T0 + 3599) / 3600 * 3600
    val gridEnd = T1 / 3600 * 3600
    val expect = (for {
      tp <- gridStart.to(gridEnd, 3600)
      (c, pts) <- inner.groupBy(_._1)
      vs = pts.filter(p => p._2 >= tp - 21600 + 1 && p._2 <= tp).map(_._3)
      if vs.nonEmpty
    } yield (c, tp) -> vs.max).toMap
    assert(got == expect,
      s"${got.size} vs ${expect.size} grid points; " +
        s"diff=${(got.toSet diff expect.toSet).take(3)}")
    // parse-render round trip
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
    // fail-fast: aggregation inner vector (not yet supported)
    val ex = intercept[IllegalArgumentException](
      PromQL.query(t, "max_over_time(sum by (cohort) (click[1h])[6h:1h])",
        T0, T1))
    assert(ex.getMessage.contains("rate/increase"), ex.getMessage)
    // r14: the counter/trend outers PARSE over computed inners now
    // (deriv over a subquery is Tsdb.counterOverFrame); genuinely
    // unsupported outers still fail fast at parse
    assert(PromQL.parse("deriv(rate(click[1h])[6h:1h])")
      .isInstanceOf[PromQL.SubqueryFn])
    val ex2 = intercept[IllegalArgumentException](
      PromQL.parse("histogram_quantile(0.9, rate(click[1h])[6h:1h])"))
    assert(ex2.getMessage.contains("_over_time family"), ex2.getMessage)
  }

  test("subquery-in-subquery: depth-2 [R:s] nesting composes exactly " +
      "under aligned grids; depth-3 recursion matches the window-" +
      "tiling identity; misaligned grids and unquantized outers fail " +
      "fast") {
    // resampling theorem: the engine's sliding value at T depends only
    // on the raw samples in (T-range, T], so with 1800 | 7200 the
    // depth-2 query equals the depth-1 spelling whose inner grid IS the
    // outer sampling grid
    val q2 = "max_over_time(rate(click[7200:1800]) by (cohort) " +
      "[21600:7200])"
    val q1 = "max_over_time(rate(click[7200]) by (cohort) [21600:7200])"
    def rows(q: String) = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val got = rows(q2)
    assert(got.nonEmpty)
    assert(got == rows(q1))
    // parse-render round trip keeps the inner step
    assert(PromQL.parse(PromQL.render(PromQL.parse(q2))) == PromQL.parse(q2))
    // misaligned grids (2100 does not divide 7200) fail fast
    val ex = intercept[IllegalArgumentException](
      PromQL.query(t, "max_over_time(rate(click[7200:2100]) by (cohort) " +
        "[21600:7200])", T0, T1))
    assert(ex.getMessage.contains("aligned grids"), ex.getMessage)
    // depth-3 (a SubqueryFn inside the body) evaluates recursively —
    // and the window-tiling identity pins its exactness independently:
    // with st3 = R2 (= 7200) the outer's per-τ inner windows
    // (τ−7200, τ] tile (T−21600, T] exactly, so max-of-max over the
    // nested construct equals max over the UNION window of the raw
    // inner grid — a single overTimeOnFrame at range 21600
    val q3 = PromQL.query(t,
      "max_over_time(max_over_time(sum by (cohort)(rate(click[3600]))" +
        "[7200:3600])[21600:7200])", T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(q3.nonEmpty)
    val inner3 = PromQL.query(t, "rate(click[3600:3600]) by (cohort)",
        T0 - 21600 - 7200, T1)
      .select(col("cohort"), col("eval_ts"), col("rate_per_sec"))
    val union3 = Tsdb.overTimeOnFrame(inner3, Seq("cohort"), "eval_ts",
        "rate_per_sec", T0, T1, 7200L, 21600L)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(q3 == union3,
      s"depth-3 minus union: ${(q3 -- union3).take(3)}; " +
        s"union minus depth-3: ${(union3 -- q3).take(3)}")
    // spread/counter outers over a nested-subquery inner fail fast
    // (the nested legs are not floor-r6 quantized)
    val ex3 = intercept[IllegalArgumentException](
      PromQL.query(t, "stddev_over_time(max_over_time(sum by (cohort)" +
        "(rate(click[3600]))[7200:3600])[21600:7200])", T0, T1))
    assert(ex3.getMessage.contains("nested-subquery INNER"),
      ex3.getMessage)
  }

  test("nested subquery quantile outer: quantile_over_time(q, rate[R:s]) " +
      "equals the independent percentile over the inner grid") {
    val q = "quantile_over_time(0.9, rate(click[3600]) by (cohort) " +
      "[21600:3600])"
    val got = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "q_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.nonEmpty)
    val inner = PromQL.query(t, "rate(click[3600:3600]) by (cohort)",
        T0 - 21600, T1)
      .select("cohort", "eval_ts", "rate_per_sec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def pctl(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      val rank = p * (s.length - 1)
      val lo = rank.toInt
      if (lo == s.length - 1) s(lo)
      else s(lo) + (rank - lo) * (s(lo + 1) - s(lo))
    }
    val gridStart = (T0 + 3599) / 3600 * 3600
    val gridEnd = T1 / 3600 * 3600
    val expect = (for {
      tp <- gridStart.to(gridEnd, 3600)
      (c, pts) <- inner.groupBy(_._1)
      vs = pts.filter(p => p._2 >= tp - 21600 + 1 && p._2 <= tp).map(_._3)
      if vs.nonEmpty
    } yield (c, tp) ->
      BigDecimal(pctl(vs.toSeq, 0.9)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    assert(got == expect,
      s"${got.size} vs ${expect.size}; " +
        s"diff=${(got.toSet diff expect.toSet).take(3)}")
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
  }

  test("nested subquery offset: [R:s] offset d equals the unshifted " +
      "query on the shifted window with timestamps moved forward") {
    val d = 86400L
    val q = "max_over_time(rate(click[3600]) by (cohort) " +
      s"[21600:3600] offset $d)"
    val got = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.nonEmpty)
    val base = PromQL.query(t,
        "max_over_time(rate(click[3600]) by (cohort) [21600:3600])",
        T0 - d, T1 - d)
      .select("cohort", "eval_ts", "max_v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1) + d) -> r.getDouble(2))
      .toMap
    assert(got == base,
      s"${got.size} vs ${base.size}; diff=${(got.toSet diff base.toSet).take(3)}")
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
  }

  test("nested subquery gauge inner: max_over_time(avg_over_time(x[1h])" +
      "[6h:1h]) equals an independent slide over the inner moments") {
    val q = "max_over_time(avg_over_time(click[3600]) by (cohort) " +
      "[21600:3600])"
    val got = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.nonEmpty)
    // the inner: each cohort's floor-r6 mean over the 1h window at
    // every hourly point of the 6h-extended span
    val inner = windowed(clicks, T0 - 21600, T1, 3600L, 3600L)(
        s => Seq(s._1))
      .map { case (Seq(c: String, e: Long), ss) =>
        (c, e, r6(ss.map(_._4).sum.toDouble / ss.size)) }
    val gridStart = (T0 + 3599) / 3600 * 3600
    val gridEnd = T1 / 3600 * 3600
    val expect = (for {
      tp <- gridStart.to(gridEnd, 3600)
      (c, pts) <- inner.groupBy(_._1)
      vs = pts.filter(p => p._2 >= tp - 21600 + 1 && p._2 <= tp).map(_._3)
      if vs.nonEmpty
    } yield (c, tp) -> vs.max).toMap
    assert(got == expect,
      s"${got.size} vs ${expect.size}; " +
        s"diff=${(got.toSet diff expect.toSet).take(3)}")
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
    // unsupported gauge inners still fail fast
    val ex = intercept[IllegalArgumentException](
      PromQL.query(t,
        "max_over_time(present_over_time(click[3600])[21600:3600])",
        T0, T1))
    assert(ex.getMessage.contains("inner vectors"), ex.getMessage)
  }

  test("nested subquery aggregated inner: canonical " +
      "sum by (l)(rate(x[d])) equals the trailing-by extension; global " +
      "sum and resolved without() forms compile") {
    val canonical =
      "max_over_time(sum by (cohort) (rate(click[3600]))[21600:3600])"
    val extension =
      "max_over_time(rate(click[3600]) by (cohort) [21600:3600])"
    def run(q: String) = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val a = run(canonical)
    assert(a.nonEmpty && a == run(extension))
    // `sum without (user_id)` resolves to the complementary by-list
    // (cohort) and must land on the identical plan/output
    assert(a == run("max_over_time(sum without (user_id) " +
      "(rate(click[3600]))[21600:3600])"))
    // GLOBAL sum (empty by): one output series per grid point, equal to
    // the max over eval points of the cross-cohort rate sums
    val g = PromQL.query(t,
        "max_over_time(sum(rate(click[3600]))[21600:3600])", T0, T1)
      .select("eval_ts", "max_v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(g.nonEmpty)
    val innerGlobal = PromQL.query(t, "sum(rate(click[3600:3600]))",
        T0 - 21600, T1)
      .select("eval_ts", "rate_per_sec")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expect = g.keys.map(tp =>
      tp -> innerGlobal.filter(p =>
        p._1 >= tp - 21600 + 1 && p._1 <= tp).map(_._2).max).toMap
    assert(g == expect)
    // parse-render round trip on the canonical form
    assert(PromQL.parse(PromQL.render(PromQL.parse(canonical))) ==
      PromQL.parse(canonical))
    // selection-aggregated inners stay fail-fast (topk of per-series
    // rates is not a per-group scalar — never silently mis-served)
    val ex = intercept[IllegalArgumentException](
      PromQL.query(t,
        "max_over_time(topk by (cohort) (3, rate(click[3600]))" +
          "[21600:3600])",
        T0, T1))
    assert(ex.getMessage.contains("rate/increase"), ex.getMessage)
  }

  test("nested subquery moment-aggregated inner: avg/min/max/count by " +
      "(l)(rate(x[d])) equals the independent per-series recomputation") {
    // per-series rates at the full (cohort, user_id) grain — the
    // independent ground truth the moment frame must reproduce
    val perSeries = PromQL.query(t, "rate(click[3600:3600])",
        T0 - 21600, T1)
      .select("cohort", "user_id", "eval_ts", "rate_per_sec")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val byGroup = perSeries.groupBy(p => (p._1, p._3))
    // an inner frame read through last_over_time over ONE inner step:
    // the outer window at E holds exactly the inner point at E
    def innerOf(agg: String) = PromQL.query(t,
        s"last_over_time($agg[3600:3600])", T0 - 21600, T1)
      .select("cohort", "eval_ts", "last_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Number](2).doubleValue).toMap
    val Seq(cnt, avgs, mins, maxs) = Seq("count", "avg", "min", "max")
      .map(op => innerOf(s"$op by (cohort) (rate(click[3600]))"))
    val inner = avgs.map { case (k, a) =>
      k -> (cnt(k).toLong, a, mins(k), maxs(k)) }
    assert(inner.nonEmpty && inner.keySet == byGroup.keySet)
    inner.foreach { case (k, (n, avg, mn, mx)) =>
      val vs = byGroup(k).map(_._4)
      assert(n == vs.length, s"$k n")
      assert(math.abs(avg - vs.sum / vs.length) < 1e-9, s"$k avg")
      assert(mn == vs.min && mx == vs.max, s"$k min/max")
    }
    // the engine query end-to-end: outer max over the inner avg frame
    val q = "max_over_time(avg by (cohort) (rate(click[3600]))" +
      "[21600:3600])"
    val got = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val gridStart = (T0 + 3599) / 3600 * 3600
    val gridEnd = T1 / 3600 * 3600
    val expect = (for {
      tp <- gridStart.to(gridEnd, 3600)
      (c, pts) <- inner.toSeq.map { case ((c, e), v) => (c, e, v._2) }
        .groupBy(_._1)
      vs = pts.filter(p => p._2 >= tp - 21600 + 1 && p._2 <= tp).map(_._3)
      if vs.nonEmpty
    } yield (c, tp) -> vs.max).toMap
    assert(got == expect,
      s"${got.size} vs ${expect.size}; " +
        s"diff=${(got.toSet diff expect.toSet).take(3)}")
    // count inner, global grain: n_series per eval point
    val gc = PromQL.query(t,
        "last_over_time(count(rate(click[3600]))[21600:3600])", T0, T1)
      .select("eval_ts", "last_v").collect()
    assert(gc.nonEmpty)
    // spread + quantile inners over the same per-series rates: the
    // engine's micro-scheme stddev/stdvar and exact Percentile q_v
    // against plain-Scala recomputation over byGroup
    val Seq(sds, svs, qvs) = Seq(
      "stddev by (cohort) (rate(click[3600]))",
      "stdvar by (cohort) (rate(click[3600]))",
      "quantile by (cohort) (0.9, rate(click[3600]))").map(innerOf)
    val innerS = sds.map { case (k, sd) => k -> (sd, svs(k), qvs(k)) }
    def r6f(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def pctl(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      val rank = p * (s.length - 1)
      val lo = rank.toInt
      val raw = if (lo == s.length - 1) s(lo)
        else s(lo) + (rank - lo) * (s(lo + 1) - s(lo))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    innerS.foreach { case (k, (sd, sv, qv)) =>
      val vs = byGroup(k).map(_._4).toSeq
      val ms = vs.map(v => math.round(v * 1e6))
      val n = ms.length.toDouble
      val meanM = ms.sum.toDouble / n
      val stdvar = (ms.map(m => BigInt(m) * BigInt(m)).sum.toDouble / n -
        meanM * meanM) / 1e12
      assert(sv == r6f(stdvar), s"$k stdvar")
      assert(sd == r6f(math.sqrt(stdvar)), s"$k stddev")
      assert(qv == pctl(vs, 0.9), s"$k q_v")
    }
    // end-to-end: stddev inner under a max outer, and the quantile
    // inner under an avg outer, both compile and populate the grid
    val e2e = PromQL.query(t,
        "max_over_time(stddev by (cohort) (rate(click[3600]))" +
          "[21600:3600])", T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val expectS = (for {
      tp <- gridStart.to(gridEnd, 3600)
      (c, pts) <- innerS.toSeq.map { case ((c, e), v) => (c, e, v._1) }
        .groupBy(_._1)
      vs = pts.filter(p => p._2 >= tp - 21600 + 1 && p._2 <= tp).map(_._3)
      if vs.nonEmpty
    } yield (c, tp) -> vs.max).toMap
    assert(e2e == expectS)
    assert(PromQL.query(t,
      "avg_over_time(quantile by (cohort) (0.9, rate(click[3600]))" +
        "[21600:3600])", T0, T1).collect().nonEmpty)
    // parse-render round trip
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
  }

  test("nested subquery binary-op inner: the peak-error-ratio idiom " +
      "equals the manual join of the two sliding legs") {
    val q = "max_over_time((sum by (cohort) (rate(click[3600])) / " +
      "sum by (cohort) (rate(view[3600])))[21600:3600])"
    val got = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.nonEmpty)
    def leg(metric: String) = PromQL.query(t,
        s"rate($metric[3600:3600]) by (cohort)", T0 - 21600, T1)
      .select("cohort", "eval_ts", "rate_per_sec")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val (a, b) = (leg("click"), leg("view"))
    def r6h(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ratio = a.keySet.intersect(b.keySet).map { k =>
      val d = b(k)
      k -> r6h(if (d == 0.0) a(k) * Double.PositiveInfinity
        else a(k) / d)
    }.toMap
    val gridStart = (T0 + 3599) / 3600 * 3600
    val gridEnd = T1 / 3600 * 3600
    val expect = (for {
      tp <- gridStart.to(gridEnd, 3600)
      (c, pts) <- ratio.toSeq.map { case ((c, e), v) => (c, e, v) }
        .groupBy(_._1)
      vs = pts.filter(p => p._2 >= tp - 21600 + 1 && p._2 <= tp).map(_._3)
      if vs.nonEmpty
    } yield (c, tp) -> vs.max).toMap
    assert(got == expect,
      s"${got.size} vs ${expect.size}; " +
        s"diff=${(got.toSet diff expect.toSet).take(3)}")
    // parse-render round trip keeps the parenthesized binary-op inner
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
    // mismatched by-lists across the two legs are rejected loudly
    val ex = intercept[IllegalArgumentException](
      PromQL.query(t,
        "max_over_time((sum by (cohort) (rate(click[3600])) / " +
          "sum by (user_id) (rate(view[3600])))[21600:3600])", T0, T1))
    assert(ex.getMessage.contains("same labels"), ex.getMessage)
  }

  test("nested subquery topk inner: time-in-top-k equals the manual " +
      "ranked recomputation with pinned tie order") {
    val q = "count_over_time(topk(3, sum by (cohort) " +
      "(rate(click[3600])))[21600:3600])"
    val got = PromQL.query(t, q, T0, T1)
      .select("cohort", "eval_ts", "n")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got.nonEmpty)
    val inner = PromQL.query(t, "rate(click[3600:3600]) by (cohort)",
        T0 - 21600, T1)
      .select("cohort", "eval_ts", "rate_per_sec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // rank per eval point: value DESC then cohort ASC (the pinned tie
    // order), keep top 3
    val surviving = inner.groupBy(_._2).toSeq.flatMap { case (_, pts) =>
      pts.sortBy(p => (-p._3, p._1)).take(3)
    }
    val gridStart = (T0 + 3599) / 3600 * 3600
    val gridEnd = T1 / 3600 * 3600
    val expect = (for {
      tp <- gridStart.to(gridEnd, 3600)
      (c, pts) <- surviving.groupBy(_._1)
      hits = pts.count(p => p._2 >= tp - 21600 + 1 && p._2 <= tp)
      if hits > 0
    } yield (c, tp) -> hits.toLong).toMap
    assert(got == expect,
      s"${got.size} vs ${expect.size}; " +
        s"diff=${(got.toSet diff expect.toSet).take(3)}")
    // the top-3 count can never exceed the window's eval-point count
    assert(got.values.max <= 6)
    // bottomk compiles and selects the complementary tail
    val bot = PromQL.query(t,
        "count_over_time(bottomk(3, sum by (cohort) " +
          "(rate(click[3600])))[21600:3600])", T0, T1)
      .select("cohort", "eval_ts", "n").collect()
    assert(bot.nonEmpty)
    // topk by-labels must be a subset of the inner grouping
    val ex = intercept[IllegalArgumentException](
      PromQL.query(t,
        "count_over_time(topk by (user_id) (3, sum by (cohort) " +
          "(rate(click[3600])))[21600:3600])", T0, T1))
    assert(ex.getMessage.contains("subset"), ex.getMessage)
    assert(PromQL.parse(PromQL.render(PromQL.parse(q))) == PromQL.parse(q))
  }

  test("rules over nested subqueries: the [range:step] resolution is the " +
      "rule grid; islands escalate per inner labelset; record round-trips") {
    import graft.promql.Rules
    val expr = "max_over_time(rate(click[3600]) by (cohort) " +
      "[21600:3600]) > 0.004"
    val out = Rules.alerts(t,
        Rules.AlertRule("peak", expr, forSec = 7200L), T0, T1)
      .select("cohort", "bucket_start", "value", "state").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3)))
    assert(out.nonEmpty)
    // ground truth: the compiled subquery frame thresholded, then the
    // gaps-and-islands escalation recomputed in plain Scala
    val active = PromQL.query(t, expr, T0, T1)
      .select("cohort", "eval_ts", "max_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val expect = active.groupBy(_._1).toSeq.flatMap { case (c, pts) =>
      var since = -1L; var prev = -1L
      pts.sortBy(_._2).map { case (_, ts, v) =>
        if (prev < 0 || ts - prev != 3600) since = ts
        prev = ts
        (c, ts, v, if (ts - since >= 7200) "firing" else "pending")
      }
    }.toSet
    assert(out.toSet == expect,
      s"${out.size} vs ${expect.size}; " +
        s"diff=${(out.toSet diff expect).take(3)}")
    // the threshold sits inside the value range: both states occur
    assert(out.exists(_._4 == "firing") && out.exists(_._4 == "pending"))
    // recording a subquery round-trips through the sample schema
    val sq = "max_over_time(avg by (cohort) (rate(click[3600]))" +
      "[21600:3600])"
    val rec = Rules.record(t,
      Rules.RecordingRule("cohort:click:peak6h", sq), T0, T1)
    val back = Tsdb.attach(spark, rec)
      .queryRange("cohort:click:peak6h", Seq.empty, T0, T1)
      .select(col("labels").getItem("cohort").as("cohort"), col("ts"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val direct = PromQL.query(t, sq, T0, T1)
      .select("cohort", "eval_ts", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(back == direct)
    // a bare per-series subquery inner has no static label schema — the
    // rule layer rejects it loudly instead of guessing
    val e = intercept[IllegalArgumentException](Rules.alerts(t,
      Rules.AlertRule("r",
        "max_over_time(rate(click[3600])[21600:3600]) > 0.004", 0L),
      T0, T1))
    assert(e.getMessage.contains("aggregated vector"))
  }

  test("nested subquery spread/present outers: stddev/stdvar_over_time " +
      "use the integer-micro scheme; present_over_time is the 1.0 grid") {
    val inner = PromQL.query(t, "rate(click[3600:3600]) by (cohort)",
        T0 - 21600, T1)
      .select("cohort", "eval_ts", "rate_per_sec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val gridStart = (T0 + 3599) / 3600 * 3600
    val gridEnd = T1 / 3600 * 3600
    def windows = for {
      tp <- gridStart.to(gridEnd, 3600)
      (c, pts) <- inner.groupBy(_._1)
      vs = pts.filter(p => p._2 >= tp - 21600 + 1 && p._2 <= tp).map(_._3)
      if vs.nonEmpty
    } yield (c, tp, vs)
    // the engine's exact double op order over integer micros
    def spreadOf(vs: Seq[Double]): (Double, Double) = {
      val ms = vs.map(v => math.round(v * 1e6))
      val n = ms.length.toDouble
      val meanM = ms.sum.toDouble / n
      val stdvar =
        (ms.map(m => BigInt(m) * BigInt(m)).sum.toDouble / n -
          meanM * meanM) / 1e12
      // the engine's tie-free rounding: floor(x*1e6 + 0.5)/1e6
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      (r6(stdvar), r6(math.sqrt(stdvar)))
    }
    val gotVar = PromQL.query(t,
        "stdvar_over_time(rate(click[3600]) by (cohort) [21600:3600])",
        T0, T1)
      .select("cohort", "eval_ts", "stdvar_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val gotDev = PromQL.query(t,
        "stddev_over_time(rate(click[3600]) by (cohort) [21600:3600])",
        T0, T1)
      .select("cohort", "eval_ts", "stddev_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val exp = windows.map { case (c, tp, vs) =>
      (c, tp) -> spreadOf(vs.toSeq) }.toMap
    assert(gotVar.nonEmpty && gotVar.keySet == exp.keySet)
    exp.foreach { case (k, (sv, sd)) =>
      assert(gotVar(k) == sv, s"$k stdvar ${gotVar(k)} vs $sv")
      assert(gotDev(k) == sd, s"$k stddev ${gotDev(k)} vs $sd")
    }
    // present_over_time: 1.0 on exactly the populated grid
    val gotP = PromQL.query(t,
        "present_over_time(rate(click[3600]) by (cohort) [21600:3600])",
        T0, T1)
      .select("cohort", "eval_ts", "present_v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(gotP.keySet == exp.keySet && gotP.values.forall(_ == 1.0))
    // r14: spread outers over gauge inners WORK now — the gauge avg_v
    // leg is floor-r6 quantized, so the integer-micro scheme is
    // lossless over it; a single-point outer window has spread 0
    val gs = PromQL.query(t,
      "stddev_over_time(avg_over_time(click[3600]) by (cohort) " +
        "[3600:3600])", T0, T1)
      .select("stddev_v").collect().map(_.getDouble(0))
    assert(gs.nonEmpty && gs.forall(_ == 0.0),
      "outer range == step must give MAD-style zero spread")
    // r14 late: the "/" ratio inner is round(…,6)-quantized (the ratio
    // contract) and spread outers accept it now
    assert(PromQL.query(t,
      "stddev_over_time((sum by (cohort)(rate(click[3600])) / " +
        "sum by (cohort)(rate(click[3600])))[21600:3600])",
      T0, T1).columns.contains("stddev_v"))
    // r15: the +,-,* inners quantize through the tie-free floor-r6
    // (`result6`) and join the spread family too — x - x has spread 0,
    // x + x exactly doubles the rate's spread at the micro grain
    // (2v quantizes losslessly: v is already 6-decimal)
    val gd = PromQL.query(t,
      "stddev_over_time((sum by (cohort)(rate(click[3600])) - " +
        "sum by (cohort)(rate(click[3600])))[21600:3600])",
      T0, T1).select("stddev_v").collect().map(_.getDouble(0))
    assert(gd.nonEmpty && gd.forall(_ == 0.0), "x - x must have 0 spread")
    // the %/^ results quantize through engine round() (tie-divergent
    // cross-engine) and stay fail-fast
    val ex = intercept[IllegalArgumentException](
      PromQL.query(t,
        "stddev_over_time((sum by (cohort)(rate(click[3600])) % " +
          "sum by (cohort)(rate(click[3600])))[21600:3600])",
        T0, T1))
    assert(ex.getMessage.contains("inner value"), ex.getMessage)
  }

  test("window conventions: sliding resets/changes/rate, the counter " +
      "outer over a computed inner and absent_over_time equal a " +
      "driver-side replay of the documented rules") {
    import spark.implicits._
    // three series, 22 samples: a counter reset in each, samples exactly
    // on eval points and on E − range, a duplicate timestamp (distinct
    // values, ordered by value) and a 240 s gap in series 1
    val B = 1704412800L // a multiple of every step below
    val raw = Seq(
      ("1", "a", 0L, "1.00"), ("1", "a", 60L, "3.50"),
      ("1", "a", 90L, "3.50"), ("1", "a", 150L, "0.50"),
      ("1", "a", 180L, "2.25"), ("1", "a", 180L, "2.50"),
      ("1", "a", 240L, "4.00"), ("1", "a", 480L, "5.00"),
      ("1", "a", 540L, "6.00"), ("1", "a", 600L, "6.00"),
      ("2", "a", 30L, "10.00"), ("2", "a", 120L, "12.00"),
      ("2", "a", 240L, "11.00"), ("2", "a", 300L, "11.00"),
      ("2", "a", 360L, "15.00"), ("2", "a", 420L, "15.50"),
      ("3", "b", 0L, "100.00"), ("3", "b", 60L, "100.00"),
      ("3", "b", 120L, "101.00"), ("3", "b", 240L, "99.00"),
      ("3", "b", 300L, "100.00"), ("3", "b", 540L, "103.00"))
      .map { case (id, l, dt, v) => (id, l, B + dt, BigDecimal(v)) }
    val store = Tsdb.attach(spark, raw.map { case (id, l, ts, v) =>
        ("x", Map("id" -> id, "l" -> l), ts, v.toDouble) }
      .toDF("metric", "labels", "ts", "value"))
    val (start, end, step, range) = (B, B + 600L, 60L, 180L)
    // consecutive (older, newer) sample pairs per series over the scan
    // [lo, hi], ordered by (ts, value)
    def pairs(lo: Long, hi: Long) =
      raw.filter(s => s._3 >= lo && s._3 <= hi).groupBy(_._1).values
        .flatMap(_.sortBy(s => (s._3, s._4)).sliding(2).collect {
          case Seq(p, c) => (c._1, c._2, p, c)
        }).toSeq
    // sliding raw-window rule: the pair at newer sample ts counts at
    // every eval point E with E − range < ts ≤ E; offset o evaluates the
    // shifted grid and reports E + o
    def sliding(from: Long, o: Long,
        key: ((String, String)) => Seq[String]) = {
      val ps = pairs(from - o - range + 1, end - o)
      for {
        e <- evalPoints(from - o, end - o, step)
        (k, in) <- ps.filter(p => p._4._3 > e - range && p._4._3 <= e)
          .groupBy(p => key((p._1, p._2)))
      } yield (k, e + o, in.map(p => (p._3._4, p._4._4)))
    }
    def delta(p: BigDecimal, c: BigDecimal) = if (c >= p) c - p else c

    Seq(0L, 120L).foreach { o =>
      val off = if (o == 0L) "" else s" offset $o"
      val perSeries = sliding(start, o, k => Seq(k._1, k._2))
      // resets(x[R:s]): per series, a drop between consecutive samples
      assert(rowSet(PromQL.query(store, s"resets(x[$range:$step]$off)",
          start, end), "id", "l", "eval_ts", "n_deltas", "resets") ==
        perSeries.map { case (k, e, ps) =>
          k ++ Seq[Any](e, ps.size.toLong, ps.count(p => p._2 < p._1).toLong)
        }.toSet, s"resets offset $o")
      // sum by (l) (changes(x[R:s])): any value change, summed over l
      assert(rowSet(PromQL.query(store,
          s"sum by (l) (changes(x[$range:$step]$off))", start, end),
          "l", "eval_ts", "n_deltas", "changes") ==
        sliding(start, o, k => Seq(k._2)).map { case (k, e, ps) =>
          k ++ Seq[Any](e, ps.size.toLong, ps.count(p => p._2 != p._1).toLong)
        }.toSet, s"changes offset $o")
      // rate(x[R:s]): reset-robust decimal increase, floor-r6 over range
      assert(rowSet(PromQL.query(store, s"rate(x[$range:$step]$off)",
          start, end), "id", "l", "eval_ts", "n", "increase",
          "rate_per_sec") ==
        perSeries.map { case (k, e, ps) =>
          val inc = ps.map(p => delta(p._1, p._2)).sum.toDouble
          k ++ Seq[Any](e, ps.size.toLong, inc, r6(inc / range))
        }.toSet, s"rate offset $o")
      // rate(x[R]) and avg by (l) (increase(x[R])) on the tumbling
      // grid: a pair counts in its newer sample's bucket ts − ts mod R
      // of the scan [start − o, end − o], reported at bucket + o
      val tumbling = pairs(start - o, end - o)
        .groupBy(p => (p._1, p._2, p._4._3 - Math.floorMod(p._4._3, range) + o))
        .map { case (k, ps) => k -> ps.map(p => delta(p._3._4, p._4._4)).sum }
      assert(rowSet(PromQL.query(store, s"rate(x[$range]$off)", start, end),
          "id", "l", "bucket_start", "increase", "rate_per_sec") ==
        tumbling.map { case ((id, l, b), inc) =>
          Seq[Any](id, l, b, inc.toDouble, round6(inc.toDouble / range))
        }.toSet, s"tumbling rate offset $o")
      assert(rowSet(PromQL.query(store,
          s"avg by (l) (increase(x[$range]$off))", start, end), "l",
          "bucket_start", "n_series", "sum_increase", "avg_increase",
          "min_increase", "max_increase") ==
        tumbling.groupBy(e => (e._1._2, e._1._3)).map { case ((l, b), es) =>
          val vs = es.values.toSeq
          Seq[Any](l, b, vs.size.toLong, vs.sum.toDouble,
            vs.sum.toDouble / vs.size, vs.min.toDouble, vs.max.toDouble)
        }.toSet, s"tumbling moments offset $o")
      // sum by (l) (resets|changes(x[R])) on the tumbling grid: each
      // pair in its newer sample's bucket of the scan [start − o, end − o]
      val pairsByL = pairs(start - o, end - o)
        .groupBy(p => (p._2, p._4._3 - Math.floorMod(p._4._3, range) + o))
      for ((fn, hit) <- Seq[(String, (BigDecimal, BigDecimal) => Boolean)](
          "resets" -> (_ > _), "changes" -> (_ != _)))
        assert(rowSet(PromQL.query(store, s"sum by (l) ($fn(x[$range]$off))",
            start, end), "l", "bucket_start", "n_deltas", fn) ==
          pairsByL.map { case ((l, b), ps) => Seq[Any](l, b, ps.size.toLong,
            ps.count(p => hit(p._3._4, p._4._4)).toLong) }.toSet,
          s"tumbling $fn offset $o")
      // idelta / irate per series: the newest two samples of each
      // tumbling bucket of the scan, or of each sliding window
      val perBucket = raw.filter(s => s._3 >= start - o && s._3 <= end - o)
        .groupBy(s => Seq[Any](s._1, s._2,
          s._3 - Math.floorMod(s._3, range) + o)).toSeq
      val perWindow = windowed(raw, start, end, step, range, o)(
        s => Seq(s._1, s._2))
      for ((sel, t, groups) <- Seq((s"[$range]", "bucket_start", perBucket),
          (s"[$range:$step]", "eval_ts", perWindow))) {
        val irate = PromQL.query(store, s"irate(x$sel$off) by (id, l)",
          start, end)
        assert(rowSet(irate, "id", "l", t, "dt", "idelta", "irate") ==
          groups.flatMap { case (k, ss) => lastTwoOf(ss).map(k ++ _) }.toSet,
          s"irate x$sel offset $o")
        assertSame(PromQL.query(store, s"idelta(x$sel$off) by (id, l)",
          start, end), irate)
      }

      // absent_over_time(x{id="1"}[R] offset o): grid step = range; an
      // eval point is absent when (E − range, E] holds no sample
      val ar = 120L
      val ts1 = raw.filter(_._1 == "1").map(_._3)
      assert(rowSet(PromQL.query(store,
          s"""absent_over_time(x{id="1"}[$ar]$off)""", start, end),
          "eval_ts", "value") ==
        evalPoints(start - o, end - o, ar)
          .filterNot(e => ts1.exists(t => t > e - ar && t <= e))
          .map(e => Seq[Any](e + o, 1.0)).toSet, s"absent offset $o")

      // gauge shapes on the tumbling grid: a sample counts in bucket
      // ts − ts mod R of the scan [start − o, end − o], reported at + o
      val byL = bucketed(raw, start, end, range, o)(s => Seq(s._2))
      for (op <- Seq("sum", "avg", "min", "max"))
        assert(rowSet(PromQL.query(store, s"$op by (l) (x[$range]$off)",
            start, end), "l", "bucket_start", "n", "sum_v", "avg_v",
            "min_v", "max_v") ==
          byL.map { case (k, ss) => k ++ moments(ss) }.toSet,
          s"$op by offset $o")
      assert(rowSet(PromQL.query(store, s"quantile(0.5, x[$range]$off) by (l)",
          start, end), "l", "bucket_start", "n", "q_v") ==
        byL.map { case (k, ss) => k ++ Seq(ss.size.toLong,
          round6(percentileOf(ss.map(_._4.toDouble), 0.5)))
        }.toSet, s"quantile by offset $o")
      assert(rowSet(PromQL.query(store, s"stddev by (l) (x[$range]$off)",
          start, end), "l", "bucket_start", "n", "avg_v", "stdvar",
          "stddev") == byL.map { case (k, ss) => k ++ spreadOf(ss) }.toSet,
        s"stddev by offset $o")
      assert(rowSet(PromQL.query(store, s"delta(x[$range]$off)", start, end),
          "id", "l", "bucket_start", "n", "delta") ==
        bucketed(raw, start, end, range, o)(s => Seq(s._1, s._2)).map {
          case (k, ss) => k ++ Seq(ss.size.toLong, endpoints(ss))
        }.toSet, s"tumbling delta offset $o")
      assert(rowSet(PromQL.query(store,
          s"""count_values("cv", x[$range]$off) by (l)""", start, end),
          "l", "bucket_start", "cv", "n") ==
        byL.flatMap { case (k, ss) => ss.groupBy(_._4.toDouble).map {
          case (v, same) => k ++ Seq(v, same.size.toLong) }
        }.toSet, s"count_values offset $o")

      // gauge shapes on the sliding grid: a sample counts at every eval
      // point E of the shifted grid with E − R < ts ≤ E, reported at E + o
      val slid = windowed(raw, start, end, step, range, o)(
        s => Seq(s._1, s._2))
      for (fn <- Seq("avg_over_time", "last_over_time"))
        assert(rowSet(PromQL.query(store,
            s"$fn(x[$range:$step]$off) by (id, l)", start, end),
            "id", "l", "eval_ts", "n", "sum_v", "avg_v", "min_v", "max_v",
            "last_v") ==
          slid.map { case (k, ss) => k ++ moments(ss) :+ lastOf(ss) }.toSet,
          s"$fn offset $o")
      assert(rowSet(PromQL.query(store, s"delta(x[$range:$step]$off)",
          start, end), "id", "l", "eval_ts", "n", "delta") ==
        slid.map { case (k, ss) => k ++ Seq(ss.size.toLong, endpoints(ss))
        }.toSet, s"sliding delta offset $o")

      // grain: top-level avg_over_time(x[R:s]) by (l) stays per series
      // (series 1 and 2 share l = a and keep a row each), while the same
      // function as a subquery inner aggregates at the by grain, its mean
      // floor-r6 quantized; a [s:s] outer reads the inner point at E
      val perSeriesL = bag(slid.map { case (Seq(_, l, e), ss) =>
        Seq(l, e, ss.map(_._4).sum.toDouble / ss.size) })
      assert(perSeriesL.values.exists(_ > 1) ||
        perSeriesL.keys.groupBy(_.take(2)).exists(_._2.size > 1))
      assert(bagOf(PromQL.query(store,
          s"avg_over_time(x[$range:$step]$off) by (l)", start, end),
          "l", "eval_ts", "avg_v") == perSeriesL,
        s"per-series grain offset $o")
      assert(rowSet(PromQL.query(store,
          s"last_over_time(avg_over_time(x[$range]$off) by (l) " +
            s"[$step:$step])", start, end), "l", "eval_ts", "last_v") ==
        windowed(raw, start, end, step, range, o)(s => Seq(s._2)).map {
          case (k, ss) => k :+ r6(ss.map(_._4).sum.toDouble / ss.size)
        }.toSet, s"by grain of the subquery inner offset $o")
    }

    // resets(rate(x[R])[R2:s]): the inner rate per series on the
    // subquery grid, then consecutive inner points count in outer
    // window T only when BOTH ends lie in (T − R2, T]
    val r2 = 240L
    // the inner evaluates over [start − R2, end]
    val inner = sliding(start - r2, 0L, k => Seq(k._1, k._2)).map {
      case (k, e, ps) =>
        (k, e, r6(ps.map(p => delta(p._1, p._2)).sum.toDouble / range))
    }
    val innerPts = inner.groupBy(_._1).values.toSeq
      .flatMap(_.sortBy(_._2).sliding(2).collect { case Seq(p, c) => (p, c) })
    val exp = for {
      tp <- evalPoints(start, end, step)
      (k, in) <- innerPts.filter { case (p, c) =>
          p._2 > tp - r2 && c._2 <= tp }.groupBy(_._1._1)
    } yield k ++ Seq[Any](tp, in.size.toLong,
      in.count { case (p, c) => c._3 < p._3 }.toLong)
    assert(rowSet(PromQL.query(store,
        s"resets(rate(x[$range])[$r2:$step])", start, end),
        "id", "l", "eval_ts", "n_deltas", "resets") == exp.toSet)
    assert(exp.exists(_(4) != 0L), "the fixture must reset the inner rate")
  }

  /** A vector-vector compare: the per-series click rate against the
    * cohort purchase rate. */
  private val VectorCmp = "rate(click[1h]) by (cohort) > " +
    "sum by (cohort) (rate(purchase[1h]))"

  test("scalar arithmetic over a vector-vector compare reads its " +
      "`result`; against a scalar side the vector keeps its column") {
    // stage (c) passes the lhs value through as `result`
    val matched = PromQL.query(t, VectorCmp, T0, T1)
    assert(rowSet(PromQL.query(t, s"($VectorCmp) * 2", T0, T1),
        "cohort", "bucket_start", "result") ==
      rowSet(matched.select(col("cohort"), col("bucket_start"),
        (col("result") * 2).as("result")), "cohort", "bucket_start",
        "result"))
    // a compare against time() filters the vector side in place
    val rate = PromQL.query(t, "sum by (cohort) (rate(click[1h]))", T0, T1)
    assert(rowSet(PromQL.query(t,
        "(sum by (cohort) (rate(click[1h])) < time()) * 2", T0, T1),
        "cohort", "bucket_start", "result") ==
      rowSet(rate.select(col("cohort"), col("bucket_start"),
        (col("rate_per_sec") * 2).as("result")), "cohort", "bucket_start",
        "result"))
  }

  test("an alert rule over a vector-vector compare reads its `result`") {
    import graft.promql.Rules
    val al = Rules.alerts(t,
      Rules.AlertRule("click_over_purchase", VectorCmp, forSec = 0L), T0, T1)
    assert(al.columns.toSeq ==
      Seq("alertname", "cohort", "bucket_start", "value", "state"))
    assert(rowSet(al, "cohort", "bucket_start", "value") ==
      rowSet(PromQL.query(t, VectorCmp, T0, T1), "cohort", "bucket_start",
        "result"))
  }

  test("a selector takes at most one offset; offset 0s parses") {
    val e = intercept[IllegalArgumentException](
      PromQL.parse("sum by (cohort) (click[1h] offset 0s offset 1h)"))
    assert(e.getMessage.contains("offset may not be set multiple times"),
      e.getMessage)
    assert(PromQL.parse("sum by (cohort) (click[1h] offset 0s)") ==
      PromQL.parse("sum by (cohort) (click[1h])"))
  }

  // ---- the compiled vector: what compile sets where it builds a frame ----

  /** The fixture events on disk with the hourly rollup tier, for the
    * rollup-served compile case and the live-shaped build. */
  private lazy val rolled: Tsdb = {
    val disk = new Tsdb(spark, graft.model.TsdbConf(
      dataPath = tempDir("promql_vec"), segmentDuration = 86400L))
    disk.insertRows(events)
    disk.materializeRollup(3600L)
    disk
  }

  /** The Spark jobs `body` starts, counted in a job group; a sentinel job
    * after it proves every earlier job has reached the listener. */
  private def jobsDuring[A](body: => A): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-${System.nanoTime}"
    val sentinel = s"sentinel-${System.nanoTime}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every compile case's Vec names frame columns, one row per " +
      "(keys, time), times on its grid") {
    val hist = Seq(5.0, 10.0, 50.0, 100.0)
    val cases: Seq[(String, Tsdb, Option[Long])] = Seq(
      "sum by (cohort) (click[1h])" -> Some(3600L),
      "max_over_time(rate(click[1h]) by (cohort) [6h:1h] offset 1h)" -> None,
      "sum by (cohort) (click[1h]) * 2" -> None,
      "5 < sum by (cohort) (click[1h])" -> None,
      "sum by (cohort) (click[1h]) / scalar(sum(click[1h]))" -> None,
      "scalar(sum(click[1h] offset 30m))" -> None,
      "sum by (cohort) (click[1h]) - time() % 86400" -> None,
      "sum by (cohort) (click[1h]) > bool 5" -> None,
      "sum by (cohort) (purchase[1h]) > bool sum by (cohort) (click[1h])" ->
        None,
      "max by (cohort, user_id) (click[1h]) / on (cohort) group_left " +
        "sum by (cohort) (purchase[1h])" -> None,
      "sum(click[1h]) or vector(0)" -> None,
      "sum by (cohort) (purchase[1h]) or sum by (cohort) (click[1h])" -> None,
      "holt_winters(click[6h:1h], 0.5, 0.5)" -> None,
      "hour(sum by (cohort) (click[1h]))" -> None,
      "sort_by_label(sum by (cohort) (click[1h]), \"cohort\")" -> None,
      "sort(sum by (cohort) (click[1h]))" -> None,
      "abs(sum by (cohort) (click[1h]))" -> None,
      "click{cohort=\"3\"}" -> None,
      "group by (cohort) (click[1h])" -> None,
      "stddev by (cohort) (click[1h])" -> None,
      "count_values(\"value\", click[1d]) by (cohort)" -> None,
      "sum by (c) (label_replace(click[1h], \"c\", \"$1\", \"cohort\", " +
        "\"(.*)\"))" -> None,
      "label_replace(click, \"c\", \"$1\", \"cohort\", \"(.*)\")" -> None,
      "count_values(\"v\", click[1d]) by (cohort)" -> None,
      "topk(3, sum by (cohort) (click[1h]))" -> None,
      "limit_ratio(0.5, sum by (cohort) (click[1h]))" -> None,
      "topk(3, sum by (cohort) (rate(click[1h])))" -> None,
      "avg by (cohort) (increase(click[1h]))" -> None,
      "sum by (cohort) (resets(click[1h]))" -> None,
      "changes(click[2h:1h]) by (cohort)" -> None,
      "rate(click[1h]) by (cohort)" -> None,
      "delta(click[1h] offset 1h) by (cohort)" -> None,
      "irate(click[1h]) by (cohort)" -> None,
      "avg_over_time(click[1h]) by (cohort)" -> None,
      "quantile_over_time(0.5, click[1h]) by (cohort)" -> None,
      "deriv(click[2h:1h]) by (cohort)" -> None,
      "predict_linear(click[1d], 3600) by (cohort)" -> None,
      "absent(nope[1h])" -> None,
      "absent_over_time(click[1h])" -> None,
      "histogram_quantile(0.9, click[1h]) by (cohort)" -> None,
      "histogram_quantile(0.9, sum by (cohort, le) (rate(click[1h])))" ->
        None).map { case (q, r) => (q, if (r.isEmpty) t else rolled, r) }
    for ((q, store, rollup) <- cases) {
      val v = PromQL.compileQuery(store, q, T0, T1, hist, rollup)
      val cols = v.frame.columns.toSet
      val named = v.keys.getOrElse(Nil) ++ v.value ++ v.time ++
        (if (v.counts) Seq("n") else Nil)
      assert(named.forall(cols), s"$q: $named vs $cols")
      v.keys.foreach { ks =>
        val dupes = v.frame.groupBy((ks ++ v.time).map(col): _*).count()
          .where(col("count") > 1)
        assert(dupes.isEmpty, s"$q: ${dupes.take(3).toSeq}")
      }
      for ((step, off) <- v.grid; tc <- v.time)
        assert(v.frame.where(pmod(col(tc) - off, lit(step)) =!= 0).isEmpty,
          s"$q: a $tc off the ($step, $off) grid")
      assert(v.grid.isEmpty || v.time.nonEmpty, q)
    }
  }

  /** `x - y` replayed on the driver from the two compiled sides: each
    * side's (keys, time) rows are unique, and the match pairs equal
    * keys and times. Pins a side shape the match newly accepts. */
  private def matchesOnDriver(x: String, y: String,
      buckets: Seq[Double] = Nil): Unit = {
    def side(q: String) = {
      val v = PromQL.compileQuery(t, q, T0, T1, buckets, None)
      val kt = v.keys.get ++ v.time
      val rows = v.frame.select(kt.map(col) :+
          col(v.value.get).cast("double"): _*).collect()
        .map(r => r.toSeq.init -> r.getDouble(kt.size))
      assert(rows.map(_._1).distinct.length == rows.length, q)
      (kt, rows.toMap)
    }
    val ((kt, a), (_, b)) = (side(x), side(y))
    val want = a.toSeq.flatMap { case (k, va) =>
      b.get(k).map(vb => k :+ (va - vb)) }.toSet
    assert(want.nonEmpty, s"$x - $y")
    assert(rowSet(PromQL.query(t, s"($x) - ($y)", T0, T1, buckets),
      kt :+ "result": _*) == want, s"$x - $y")
  }

  test("shapes the typed vector newly keys take part in vector matches") {
    val byCohort = "sum by (cohort) (click[1h])"
    // stddev / stdvar by over a selector
    matchesOnDriver("stddev by (cohort) (click[1h])", byCohort)
    matchesOnDriver("stdvar by (cohort) (click[1h])", byCohort)
    // topk / bottomk / limitk / limit_ratio of a sum by
    for (r <- Seq("topk(3, ", "bottomk(3, ", "limitk(4, ", "limit_ratio(0.5, "))
      matchesOnDriver(s"$r$byCohort)", byCohort)
    // topk / bottomk of a sum by over rate / increase
    matchesOnDriver("topk(3, sum by (cohort) (rate(click[1h])))",
      "sum by (cohort) (rate(purchase[1h]))")
    matchesOnDriver("bottomk(3, sum by (cohort) (increase(click[1h])))",
      "sum by (cohort) (increase(purchase[1h]))")
    // a nested subquery over a keyed inner keeps the inner's keys
    matchesOnDriver(
      "avg_over_time(max_over_time(rate(click[1h]) by (cohort)[6h:1h])" +
        "[1d:6h])",
      "max_over_time(rate(purchase[1h]) by (cohort) [1d:6h])")
    // a vector under a scalar on its left keeps the vector's keys
    matchesOnDriver(s"time() - $byCohort", byCohort)
    matchesOnDriver(s"scalar(sum(purchase[1h])) - $byCohort", byCohort)
    // bool compares keep their grid
    matchesOnDriver(s"$byCohort > bool 40", byCohort)
    matchesOnDriver(s"sum by (cohort) (purchase[1h]) > bool $byCohort",
      byCohort)
    // the `or vector` gap fill is a global vector; set ops keep the keys
    matchesOnDriver("sum(click[1h]) or vector(0)", "sum(purchase[1h])")
    matchesOnDriver(s"sum by (cohort) (purchase[1h]) and $byCohort",
      byCohort)
    // the raw-observation histogram_quantile by
    matchesOnDriver("histogram_quantile(0.9, click[1h]) by (cohort)",
      byCohort, Seq(5.0, 10.0, 50.0, 100.0))
    // and a bool compare is an alert rule, its step the selector's
    import graft.promql.Rules
    val al = Rules.alerts(t,
      Rules.AlertRule("r", s"$byCohort > bool 40", forSec = 0L), T0, T1)
    assert(rowSet(al, "cohort", "bucket_start", "value") ==
      rowSet(PromQL.query(t, byCohort, T0, T1).select(col("cohort"),
        col("bucket_start"), when(col("sum_v") > 40, 1.0).otherwise(0.0)
          .as("value")), "cohort", "bucket_start", "value"))
  }

  test("per-series *_over_time frames have no keys: matches and rules " +
      "over them fail instead of pairing every series") {
    import graft.promql.Rules
    val q = "avg_over_time(click[1h]) by (cohort)"
    // the trailing by projects labels onto per-series rows
    assert(!PromQL.query(t, q, T0, T1).groupBy("cohort", "eval_ts").count()
      .where(col("count") > 1).isEmpty)
    val e1 = intercept[IllegalArgumentException](PromQL.query(t,
      s"$q - avg_over_time(purchase[1h]) by (cohort)", T0, T1))
    assert(e1.getMessage.contains("no derivable label grouping"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Rules.alerts(t,
      Rules.AlertRule("r", s"$q > 50", 0L), T0, T1))
    assert(e2.getMessage.contains("aggregated vector"), e2.getMessage)
  }

  test("a without rule compiles once: building it runs the label-key " +
      "jobs of one compile") {
    import graft.promql.Rules
    val q = "sum without (user_id) (click[1h]) > 5"
    val compile = jobsDuring(PromQL.query(t, q, T0, T1))
    assert(compile > 0)
    assert(jobsDuring(Rules.alerts(t, Rules.AlertRule("r", q, 0L), T0,
      T1)) == compile)
    assert(jobsDuring(Rules.record(t, Rules.RecordingRule("r",
      "sum without (user_id) (click[1h])"), T0, T1)) == compile)
  }

  test("the live dashboard strings start no job while they compile") {
    val (s, e) = (T0, T0 + 86400L - 1)
    val qs = Seq("sum by (cohort) (rate(click[300]))",
      "topk(3, sum by (cohort) (rate(click[300])))",
      "quantile by (cohort) (0.9, rate(click[300]))",
      "sum by (cohort) (rate(click[300])) / " +
        "sum by (cohort) (rate(purchase[300]))",
      "max_over_time(rate(click[300]) by (cohort) [3600:300])")
    val store = rolled
    assert(jobsDuring(qs.foreach(PromQL.query(store, _, s, e))) == 0)
  }
}
