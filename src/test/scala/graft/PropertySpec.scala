package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.{LabelMatcher, TsdbConf}

/** Property-based tests (ScalaCheck generators, batched into single Spark
  * jobs) for the normalization / hash / matcher laws promised in SURVEY §5:
  * sid is insensitive to label insertion order, normalization is idempotent
  * and drops empties, and the regex fast path agrees with Java's anchored
  * regex semantics.
  */
class PropertySpec extends SparkSuite {

  lazy val t = new Tsdb(spark, TsdbConf(dataPath = "", onlyMemoryMode = true))

  private val labelName: Gen[String] = Gen.choose(1, 6)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val labelValue: Gen[String] = Gen.choose(0, 6)
    .flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val labelMap: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(labelName, labelValue)).map(_.take(6))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("sid is insertion-order independent; normalization idempotent, no empties") {
    import spark.implicits._
    val cases = samples(labelMap, 100).zipWithIndex
    val rnd = new scala.util.Random(7)
    val rows = cases.flatMap { case (m, i) =>
      val perm = rnd.shuffle(m.toSeq).toMap
      Seq((s"case$i", i.toLong, m, 0L, 1.0), (s"case$i", i.toLong, perm, 0L, 1.0))
    }
    val df = rows.toDF("metric", "case_id", "labels", "ts", "value")
    val out = t.normalize(df.drop("case_id"))
      .withColumn("case_id", col("labels").getItem("__name__"))
    // both permutations of each case hash to one sid
    val perCase = out.groupBy("case_id")
      .agg(countDistinct("sid").as("k")).collect()
    assert(perCase.forall(_.getLong(1) == 1L))
    // idempotent: re-normalizing yields the same sids
    val again = t.normalize(out.select("metric", "labels", "ts", "value"))
    assert(again.select("sid").collect().map(_.getLong(0)).sorted.toSeq ==
      out.select("sid").collect().map(_.getLong(0)).sorted.toSeq)
    // no empty keys/values survive
    val maps = out.select("labels").collect().map(_.getAs[Map[String, String]](0))
    assert(maps.forall(m =>
      m.keys.forall(_.nonEmpty) && m.values.forall(_.nonEmpty)))
  }

  test("regex fast path agrees with Java anchored-regex semantics") {
    import spark.implicits._
    val values = Seq("", "disk", "disk.used", "disk.read.ops", "diskX",
      "Xdisk", "cpu.busy", "ops", "readops", "a.b", "aXb") ++
      samples(labelValue, 30)
    val patterns = Seq("disk", "disk.*", ".*ops", ".*read.*", "a.b",
      "disk\\.used", "cpu|mem", ".*", "disk.used", "a.*", ".*b") ++
      samples(labelName, 10)
    val df = values.distinct.toDF("v")
    for (p <- patterns.distinct) {
      val got = df.where(t.matcherPredicate(
          map(lit("l"), col("v")), Seq(LabelMatcher.re("l", p))))
        .collect().map(_.getString(0)).toSet
      val expect = values.filter(_.matches("^(?:" + p + ")$")).toSet
      assert(got == expect, s"pattern '$p'")
    }
  }

  test("matcher conjunction equals intersection of single-matcher results") {
    import spark.implicits._
    val rows = for {
      node <- 0 to 3; dc <- 0 to 3
    } yield ("m", Map("node" -> s"vm$node", "dc" -> dc.toString), 0L, 1.0)
    val tm = Tsdb.attach(spark, rows.toDF("metric", "labels", "ts", "value"))
    def series(ms: LabelMatcher*): Set[Long] =
      tm.querySeries(ms.toSeq, 0, 10).select("sid").collect()
        .map(_.getLong(0)).toSet
    val both = series(LabelMatcher.re("node", "vm[01]"), LabelMatcher.eq("dc", "2"))
    val inter = series(LabelMatcher.re("node", "vm[01]"))
      .intersect(series(LabelMatcher.eq("dc", "2")))
    assert(both == inter && both.nonEmpty)
  }

  test("bounded top-k aggregators equal the naive sort on random streams") {
    // reduce keeps a sorted <=k buffer with O(1) sub-worst rejection; the
    // law is: any interleaving of reduce/merge equals sortBy(-score, id).take(k)
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 50) {
      val k = 1 + rnd.nextInt(7)
      val n = rnd.nextInt(60)
      // coarse scores force ties; ids may repeat for the distinct variant
      val items = (0 until n).map(_ =>
        (rnd.nextInt(6).toDouble, rnd.nextInt(20).toLong))
      val ord = Ordering.by[(Double, Long), (Double, Long)] {
        case (s, i) => (-s, i)
      }
      val plain = new operators.TopKAggregator(k)
      val (h1, h2) = items.splitAt(n / 2)
      val viaAgg = plain.finish(plain.merge(
        h1.foldLeft(plain.zero)(plain.reduce),
        h2.foldLeft(plain.zero)(plain.reduce)))
      assert(viaAgg == items.sorted(ord).take(k), s"trial $trial plain")
      val distinct = new operators.TopKDistinctAggregator(k)
      // distinct contract: duplicate ids carry identical scores
      val uniq = items.distinctBy(_._2)
      val dupped = rnd.shuffle(uniq ++ uniq.take(rnd.nextInt(uniq.size + 1)))
      val (d1, d2) = dupped.splitAt(dupped.size / 2)
      val viaDistinct = distinct.finish(distinct.merge(
        d1.foldLeft(distinct.zero)(distinct.reduce),
        d2.foldLeft(distinct.zero)(distinct.reduce)))
      assert(viaDistinct == uniq.sorted(ord).take(k), s"trial $trial distinct")
    }
  }

  test("histogramQuantile: bounds, phi-monotonicity, first-bucket floor") {
    import spark.implicits._
    // random grouped corpora; one Spark job evaluates several phis at once
    val rnd = new scala.util.Random(13)
    val buckets = Seq(2.0, 5.0, 10.0, 20.0, 50.0)
    val rows = (0 until 12).flatMap { g =>
      val n = 5 + rnd.nextInt(40)
      (0 until n).map(i =>
        ("m", Map("g" -> s"g$g"), i.toLong,
          // mix of in-bucket and above-top-bucket mass
          if (rnd.nextInt(10) == 0) 60.0 + rnd.nextInt(100)
          else rnd.nextDouble() * 50.0))
    }
    val t2 = Tsdb.attach(spark, rows.toDF("metric", "labels", "ts", "value"))
    def q(phi: Double): Map[String, Double] =
      t2.histogramQuantile("m", Seq.empty, 0L, 1L << 20, Seq("g"), 1 << 21,
          phi, buckets)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val (q25, q50, q90) = (q(0.25), q(0.5), q(0.9))
    for (g <- q50.keys) {
      // within [0, top finite bound]
      assert(q50(g) >= 0.0 && q50(g) <= buckets.last, s"$g ${q50(g)}")
      // monotone in phi
      assert(q25(g) <= q50(g) + 1e-12 && q50(g) <= q90(g) + 1e-12, g)
    }
    // refining the bucket grid never moves an exact-boundary group's
    // quantile outside its true bucket: for all-mass-below-2.0 data the
    // estimate stays in (0, 2]
    val small = Tsdb.attach(spark,
      (0 until 30).map(i => ("m", Map("g" -> "s"), i.toLong, 0.5 + (i % 3) * 0.4))
        .toDF("metric", "labels", "ts", "value"))
    val est = small.histogramQuantile("m", Seq.empty, 0L, 100L, Seq("g"),
        1000L, 0.5, buckets).head().getDouble(3)
    assert(est > 0.0 && est <= 2.0, s"$est")
  }

  test("predict_linear recovers random exact linear trends bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // slopes/intercepts chosen so values are exact cents; predictions at
    // integer xs are exact cents too -> closed-form check is exact
    val cases = (0 until 10).map { g =>
      val slopeCents = 1 + rnd.nextInt(400)    // 0.01 .. 4.00 per sec
      val intCents = 100 + rnd.nextInt(100000)
      val n = 2 + rnd.nextInt(30)
      (g, slopeCents, intCents, n)
    }
    val rows = cases.flatMap { case (g, sc, ic, n) =>
      (0 until n).map(x =>
        ("m", Map("g" -> s"g$g"), 1000L + x, (ic + sc.toLong * x) / 100.0))
    }
    val t2 = Tsdb.attach(spark, rows.toDF("metric", "labels", "ts", "value"))
    // the fit spans the query window [1000, 1500]; horizon 0 predicts
    // at its end, x = 500
    val got = graft.promql.PromQL.query(t2, "predict_linear(m[1h], 0) by (g)",
        1000L, 1500L)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    for ((g, sc, ic, n) <- cases if n >= 2) {
      val (slope, pred) = got(s"g$g")
      assert(slope == sc / 100.0, s"g$g slope $slope vs ${sc / 100.0}")
      assert(pred == (ic + sc.toLong * 500L) / 100.0, s"g$g pred $pred")
    }
  }

  test("promql: parse(render(ast)) == ast over random query shapes") {
    import graft.promql.PromQL
    import graft.promql.PromQL._
    import graft.model.LabelMatcher
    val rnd = new scala.util.Random(11)
    def randMatcher(): LabelMatcher = {
      val name = Seq("user_id", "cohort", "dc")(rnd.nextInt(3))
      // exercise escaping: values may carry quotes and backslashes
      val value = Seq("7", "a\"b", "x\\y", "1|2", "")(rnd.nextInt(5))
      Seq(
        LabelMatcher.eq(name, value), LabelMatcher.neq(name, value),
        LabelMatcher.re(name, value), LabelMatcher.nre(name, value))(
        rnd.nextInt(4))
    }
    def randSelector(withRange: Boolean): Selector =
      Selector(
        Seq("click", "view", "purchase", "cpu.busy", "net.in.bytes")(rnd.nextInt(5)),
        Seq.fill(rnd.nextInt(3))(randMatcher()),
        if (withRange) Some(Seq(60L, 1800L, 3600L, 86400L)(rnd.nextInt(4)))
        else None,
        if (rnd.nextBoolean()) 0L else 3600L,
        // subquery step renders/parses on any ranged selector (compile
        // restricts it to over_time; round-trip doesn't care)
        if (withRange && rnd.nextInt(3) == 0) Some(900L) else None,
        // round-7 @ modifier: every form round-trips on any selector
        rnd.nextInt(4) match {
          case 0 => Some(AtStart)
          case 1 => Some(AtEnd)
          case 2 => Some(AtTime(1704412800L + rnd.nextInt(100000)))
          case _ => None
        })
    def randExpr(): Expr = rnd.nextInt(17) match {
      case 0 => randSelector(rnd.nextBoolean())
      case 1 =>
        val op = Seq("sum", "avg", "min", "max", "count", "stddev",
          "stdvar")(rnd.nextInt(7))
        if (rnd.nextBoolean())
          Agg(op, None, None, Seq("cohort"), randSelector(true))
        else
          Agg(op, None, None, Seq.empty, randSelector(true),
            without = Seq("user_id"))
      case 2 =>
        Agg(Seq("topk", "bottomk")(rnd.nextInt(2)),
          Some(1L + rnd.nextInt(9).toLong), None, Seq.empty,
          Agg("sum", None, None, Seq("cohort"), randSelector(true)))
      case 3 => Agg("quantile", None, Some(0.95), Seq("cohort"),
        randSelector(true))
      case 4 => Agg("count_values", None, None, Seq("cohort"),
        randSelector(true))
      case 5 => Agg("sum", None, None, Seq("cohort"),
        RangeFn(Seq("rate", "increase", "resets", "changes")(
          rnd.nextInt(4)), None, randSelector(true), Seq.empty))
      case 6 => RangeFn(
        Seq("avg_over_time", "min_over_time", "max_over_time",
          "sum_over_time", "count_over_time", "last_over_time", "irate",
          "idelta", "absent_over_time")(rnd.nextInt(9)),
        None, randSelector(true), Seq("cohort"))
      case 7 => RangeFn("quantile_over_time", Some(0.5),
        randSelector(true), Seq("cohort"))
      case 8 => RangeFn("predict_linear", None, randSelector(true),
        Seq("user_id"), atSec = Some(3600L))
      case 9 =>
        if (rnd.nextBoolean())
          BinOp(Seq("/", "*", "+", "-")(rnd.nextInt(4)),
            Agg("sum", None, None, Seq("cohort"), randSelector(true)),
            Agg("sum", None, None, Seq("cohort"), randSelector(true)))
        else // one-to-many matching clause round-trips too
          BinOp("/",
            Agg("sum", None, None, Seq("cohort", "user_id"),
              randSelector(true)),
            Agg("sum", None, None, Seq("cohort"), randSelector(true)),
            on = Seq("cohort"), groupLeft = true)
      case 10 => // many-to-one (group_right) mirror
        BinOp("/",
          Agg("sum", None, None, Seq("cohort"), randSelector(true)),
          Agg("sum", None, None, Seq("cohort", "user_id"),
            randSelector(true)),
          on = Seq("cohort"), groupRight = true)
      case 11 => // bare counter / gauge functions, optional projection
        RangeFn(Seq("rate", "increase", "delta")(rnd.nextInt(3)), None,
          randSelector(true),
          if (rnd.nextBoolean()) Seq("cohort") else Seq.empty)
      case 12 => // scalar arithmetic and threshold filters
        val vec = Agg("sum", None, None, Seq("cohort"), randSelector(true))
        val num = NumLit(Seq(100.0, 0.5, 2.0, 55.0)(rnd.nextInt(4)))
        val op = Seq("/", "*", "+", "-", ">", "<", ">=", "<=")(
          rnd.nextInt(8))
        if (rnd.nextBoolean()) BinOp(op, vec, num) else BinOp(op, num, vec)
      case 13 => // vector set ops, possibly with a thresholded side
        val l = Agg("sum", None, None, Seq("cohort"), randSelector(true))
        val r0 = Agg("sum", None, None, Seq("cohort"), randSelector(true))
        val r = if (rnd.nextBoolean()) r0
          else BinOp(">", r0, NumLit(500.0))
        BinOp(Seq("and", "or", "unless")(rnd.nextInt(3)), l, r)
      case 14 => // pointwise math functions, sometimes nested
        val inner = Agg("sum", None, None, Seq("cohort"), randSelector(true))
        val name = Seq("abs", "ceil", "floor", "sqrt", "sgn",
          "clamp_min", "clamp_max")(rnd.nextInt(7))
        val num = if (name.startsWith("clamp")) Some(100.0) else None
        if (rnd.nextBoolean()) MathFn(name, inner, num)
        else MathFn("abs", MathFn(name, inner, num))
      case 15 => // round-7 operators: % ^ atan2, trig fns, time()
        val vec = Agg("sum", None, None, Seq("cohort"), randSelector(true))
        rnd.nextInt(4) match {
          case 0 =>
            val op = Seq("%", "^", "atan2")(rnd.nextInt(3))
            if (rnd.nextBoolean()) BinOp(op, vec, NumLit(7.0))
            else BinOp(op, BinOp(op, vec, NumLit(2.0)), NumLit(3.0))
          case 1 => MathFn(Seq("sin", "cos", "tanh", "deg", "rad",
            "asinh")(rnd.nextInt(6)), vec)
          case 2 => BinOp(Seq("-", "+", ">")(rnd.nextInt(3)), vec, TimeLit)
          case _ => MathFn("holt_winters", randSelector(true),
            Some(0.5), Some(0.3))
        }
      case 16 => // nested subqueries: every supported outer × inner combo
        def innerSel() =
          randSelector(true).copy(stepSec = None, atSpec = None)
        val inner: Expr = rnd.nextInt(6) match {
          case 0 => RangeFn(Seq("rate", "increase")(rnd.nextInt(2)), None,
            innerSel(),
            if (rnd.nextBoolean()) Seq("cohort") else Seq.empty)
          case 1 => Agg(Seq("sum", "avg", "min", "max", "count", "stddev",
            "stdvar")(rnd.nextInt(7)), None, None,
            if (rnd.nextBoolean()) Seq("cohort") else Seq.empty,
            RangeFn("rate", None, innerSel(), Seq.empty))
          case 2 => Agg("quantile", None, Some(0.9), Seq("cohort"),
            RangeFn("rate", None, innerSel(), Seq.empty))
          case 3 => BinOp(Seq("/", "*", "+", "-")(rnd.nextInt(4)),
            Agg("sum", None, None, Seq("cohort"),
              RangeFn("rate", None, innerSel(), Seq.empty)),
            Agg("sum", None, None, Seq("cohort"),
              RangeFn("rate", None, innerSel(), Seq.empty)))
          case 4 => Agg(Seq("topk", "bottomk")(rnd.nextInt(2)),
            Some(1L + rnd.nextInt(5).toLong), None, Seq.empty,
            Agg("sum", None, None, Seq("cohort"),
              RangeFn("rate", None, innerSel(), Seq.empty)))
          case _ => RangeFn(Seq("avg_over_time", "max_over_time",
            "last_over_time")(rnd.nextInt(3)), None, innerSel(),
            Seq("cohort"))
        }
        if (rnd.nextInt(4) == 0)
          SubqueryFn("quantile_over_time", inner, 21600L, 3600L,
            Some(0.9), if (rnd.nextBoolean()) 0L else 86400L)
        else
          SubqueryFn(Seq("max_over_time", "avg_over_time", "min_over_time",
            "sum_over_time", "count_over_time", "last_over_time",
            "stddev_over_time", "stdvar_over_time", "present_over_time")(
            rnd.nextInt(9)), inner, 21600L, 3600L, None,
            if (rnd.nextBoolean()) 0L else 86400L)
    }
    for (i <- 0 until 500) {
      val ast = randExpr()
      val s = PromQL.render(ast)
      val back = PromQL.parse(s)
      assert(back == ast, s"round-trip $i failed:\n  $ast\n  «$s»\n  $back")
    }
  }

  test("promql: random garbage never hangs, loops, or escapes the API") {
    import graft.promql.PromQL
    val rnd = new scala.util.Random(23)
    val atoms = Seq("sum", "by", "without", "on", "group_left", "(", ")",
      "{", "}", "[", "]", ",", "/", "*", "+", "-", "=", "!=", "=~", "!~",
      "\"x\"", "click", "cpu.busy", "5m", "1h", "0.5", "offset", "rate",
      "topk", "\"", "\\", ".", ":", "__name__", "absent_over_time",
      ">", "<", ">=", "<=", "and", "or", "unless", "group_right", "delta",
      "100", "value")
    for (i <- 0 until 2000) {
      val s = Seq.fill(rnd.nextInt(12))(atoms(rnd.nextInt(atoms.size)))
        .mkString(" ")
      try { PromQL.parse(s); () }
      catch { case _: IllegalArgumentException => () }
      // anything else (StackOverflow, NPE, infinite loop via timeout)
      // fails the suite
    }
  }

  test("bloom filter: zero false negatives on random corpora, fpp in spec") {
    // the property the two-phase exact decontamination rests on: a member
    // NEVER tests negative (misses are final, so the verify join can only
    // remove candidates); the false-positive rate stays near nominal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.BloomShingles
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val members = (0 until 5000).map(i =>
        s"tok_${trial}_${i}_${rnd.nextLong()}").toArray
      val (words, k) = BloomShingles.plan(members.length.toLong, 0.01)
      val bits = new Array[Long](words)
      members.foreach(m =>
        BloomShingles.setBits(bits, UTF8String.fromString(m), k))
      assert(members.forall(m =>
        BloomShingles.testBits(bits, UTF8String.fromString(m), k)),
        "false negative — breaks two-phase exactness")
      val probes = (0 until 20000).map(i => s"other_${trial}_${i}_x")
      val fp = probes.count(p =>
        BloomShingles.testBits(bits, UTF8String.fromString(p), k))
      val rate = fp.toDouble / probes.size
      assert(rate < 0.03, s"fpp $rate far above the 0.01 design point")
    }
  }
}
