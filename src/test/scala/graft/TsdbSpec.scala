package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{LabelMatcher, TsdbConf}

/** End-to-end TSDB tests on the mandodb-shaped synthetic grid
  * (FIXTURES.md §A): metrics × nodes × dcs, 60 s step, value == ts —
  * replicating the reference's own test assertions
  * (tsdb_test.go:37-90, 92-121, 123-147).
  */
class TsdbSpec extends SparkSuite {

  val Start = 1600000000L
  val Steps = 240 // 4h at 60s => crosses the 2h segment boundary
  val Metrics = Seq(
    "cpu.busy", "cpu.load1",
    "disk.write.ops", "disk.read.ops", "disk.used",
    "mem.used", "net.in.bytes", "net.out.bytes")

  /** Deterministic self-checking grid: value == ts (tsdb_test.go:21-35). */
  def grid(): DataFrame = {
    import spark.implicits._
    val rows = for {
      m <- Metrics
      node <- 0 until 3
      dc <- 0 until 4
      step <- 0 until Steps
    } yield (m, Map("node" -> s"vm$node", "dc" -> dc.toString),
      Start + step * 60L, (Start + step * 60L).toDouble)
    rows.toDF("metric", "labels", "ts", "value")
  }

  def mkTsdb(memory: Boolean): Tsdb = {
    val conf = TsdbConf(
      dataPath = tempDir("tsdb"),
      segmentDuration = 7200L,
      compression = "zstd",
      onlyMemoryMode = memory)
    val t = new Tsdb(spark, conf)
    t.insertRows(grid())
    t
  }

  lazy val disk: Tsdb = mkTsdb(memory = false)
  lazy val mem: Tsdb = mkTsdb(memory = true)

  def assertRangeQuery(t: Tsdb): Unit = {
    // reference tsdb_test.go:63-82: exact labels + exact 3-point sequence
    val got = t.queryRangeShaped(
      "cpu.busy",
      Seq(LabelMatcher.eq("node", "vm1"), LabelMatcher.eq("dc", "0")),
      Start, Start + 120)
      .collect()
    assert(got.length == 1)
    val labels = got(0).getAs[Map[String, String]]("labels")
    assert(labels == Map("__name__" -> "cpu.busy", "node" -> "vm1", "dc" -> "0"))
    val points = got(0).getAs[scala.collection.Seq[Row]]("points")
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(points == Seq(
      (Start, Start.toDouble),
      (Start + 60, (Start + 60).toDouble),
      (Start + 120, (Start + 120).toDouble)))
  }

  test("queryRange returns exact points (disk)") { assertRangeQuery(disk) }
  test("queryRange returns exact points (memory)") { assertRangeQuery(mem) }

  test("queryRange trailing window returns expected count") {
    // reference tsdb_test.go:84-89 shape: [end-120, end] => 3 aligned points
    val end = Start + (Steps - 1) * 60L
    val got = disk.queryRange(
      "cpu.busy",
      Seq(LabelMatcher.eq("node", "vm1"), LabelMatcher.eq("dc", "0")),
      end - 120, end)
    assert(got.count() == 3)
  }

  test("querySeries with regex matcher finds exactly the disk.* series") {
    // reference tsdb_test.go:92-121: 3 series for disk.* + node/dc equality
    val got = disk.querySeries(
      Seq(
        LabelMatcher.re(Tsdb.MetricLabel, "disk.*"),
        LabelMatcher.eq("node", "vm1"),
        LabelMatcher.eq("dc", "0")),
      Start, Start + 120)
    assert(got.count() == 3)
    val metrics = got.select("metric").collect().map(_.getString(0)).toSet
    assert(metrics == Set("disk.write.ops", "disk.read.ops", "disk.used"))
  }

  test("queryLabelValues returns sorted distinct values") {
    // reference tsdb_test.go:123-147: node domain == [vm0 vm1 vm2] sorted
    val got = disk.queryLabelValues("node", Start, Start + 120)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("vm0", "vm1", "vm2"))
    // exact mode agrees on the dense grid
    val exact = disk.queryLabelValues("node", Start, Start + 120,
        exact = true)
      .collect().map(_.getString(0)).toSeq
    assert(exact == Seq("vm0", "vm1", "vm2"))
    // the default path is dimension-only: no fact-table scan in the plan
    val plan = disk.queryLabelValues("node", Start, Start + 120)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("/samples"), plan.take(600))
  }

  test("queryLabelValues: segment-grain (default) vs exact semantics " +
      "diverge on a value whose samples sit outside the ts range") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("tsdb_lv"), segmentDuration = 7200L))
    // vmA's samples share the queried segment but sit outside
    // [Start+1000, Start+2000]; vmB has a sample inside the range; vmC
    // lives in a different segment entirely
    t.insertRows(Seq(
      ("hb", Map("node" -> "vmA"), Start, 1.0),
      ("hb", Map("node" -> "vmA"), Start + 4000L, 2.0),
      ("hb", Map("node" -> "vmB"), Start + 1500L, 3.0),
      ("hb", Map("node" -> "vmC"), Start + 30000L, 4.0)
    ).toDF("metric", "labels", "ts", "value"))
    val segGrain = t.queryLabelValues("node", Start + 1000, Start + 2000)
      .collect().map(_.getString(0)).toSeq
    val exact = t.queryLabelValues("node", Start + 1000, Start + 2000,
        exact = true)
      .collect().map(_.getString(0)).toSeq
    // segment grain counts vmA (samples in the overlapping segment —
    // the reference's semantics, label.go:62-77) but not vmC (foreign
    // segment); exact counts only vmB — the engine's strictly-tighter
    // opt-in
    assert(segGrain == Seq("vmA", "vmB"), segGrain.toString)
    assert(exact == Seq("vmB"), exact.toString)
  }

  test("queryLabelNames: segment-grain name universe from the tier, " +
      "per-segment divergence honored") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("tsdb_ln"), segmentDuration = 7200L))
    // segment A carries {zone}; a later segment carries {rack}
    t.insertRows(Seq(
      ("hb", Map("zone" -> "z1"), Start, 1.0),
      ("hb", Map("rack" -> "r1"), Start + 30000L, 2.0)
    ).toDF("metric", "labels", "ts", "value"))
    def names(lo: Long, hi: Long) =
      t.queryLabelNames(lo, hi).collect().map(_.getString(0)).toSeq
    assert(names(Start, Start + 100) == Seq(Tsdb.MetricLabel, "zone"))
    assert(names(Start + 30000L, Start + 30100L) ==
      Seq(Tsdb.MetricLabel, "rack"))
    assert(names(Start, Start + 40000L) ==
      Seq(Tsdb.MetricLabel, "rack", "zone"))
    // memory-mode twin answers identically
    val m = Tsdb.attach(spark, Seq(
      ("hb", Map("zone" -> "z1"), Start, 1.0),
      ("hb", Map("rack" -> "r1"), Start + 30000L, 2.0)
    ).toDF("metric", "labels", "ts", "value"))
    assert(m.queryLabelNames(Start, Start + 100)
      .collect().map(_.getString(0)).toSeq == Seq(Tsdb.MetricLabel, "zone"))
  }

  test("label_values tier: tier-served default, legacy fact fallback, " +
      "compaction backfill, retention sweep") {
    import spark.implicits._
    val path = tempDir("tsdb_lvt")
    val t = new Tsdb(spark, TsdbConf(
      dataPath = path, segmentDuration = 7200L))
    t.insertRows(Seq(
      ("hb", Map("node" -> "vmA", "dc" -> "0"), Start, 1.0),
      ("hb", Map("node" -> "vmB", "dc" -> "1"), Start + 100L, 2.0),
      ("hb", Map("node" -> "vmC", "dc" -> "0"), Start + 30000L, 3.0)
    ).toDF("metric", "labels", "ts", "value"))
    def nodes(tt: Tsdb) = tt.queryLabelValues("node", Start, Start + 200)
    // tier-served: the plan reads label_values, never the fact table or
    // the O(series) dimension
    val plan = nodes(t).queryExecution.executedPlan.toString
    assert(plan.contains("label_values"), plan.take(800))
    assert(!plan.contains("/samples") && !plan.contains("series_meta"),
      plan.take(800))
    assert(nodes(t).collect().map(_.getString(0)).toSeq == Seq("vmA", "vmB"))
    // the folded metric participates in the label universe
    assert(t.queryLabelValues(Tsdb.MetricLabel, Start, Start + 200)
      .collect().map(_.getString(0)).toSeq == Seq("hb"))
    // legacy store (pre-tier): drop the tier — the default answers the
    // same off the fact table
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/label_values"), true)
    val t2 = new Tsdb(spark, TsdbConf(
      dataPath = path, segmentDuration = 7200L))
    val legacyPlan = nodes(t2).queryExecution.executedPlan.toString
    assert(legacyPlan.contains("samples"), legacyPlan.take(800))
    assert(nodes(t2).collect().map(_.getString(0)).toSeq == Seq("vmA", "vmB"))
    // compaction backfills the tier; the default goes back to tier-served
    t2.compactSeriesMeta()
    val rebuilt = nodes(t2).queryExecution.executedPlan.toString
    assert(rebuilt.contains("label_values") && !rebuilt.contains("/samples"),
      rebuilt.take(800))
    assert(nodes(t2).collect().map(_.getString(0)).toSeq == Seq("vmA", "vmB"))
    // retention: expiring the first segment sweeps its tier rows too
    val now = Start + 30000L + t2.conf.retention
    val dropped = t2.removeExpires(now)
    assert(dropped.nonEmpty)
    val after = t2.queryLabelValues("node", Start, Start + 40000L)
      .collect().map(_.getString(0)).toSeq
    assert(after == Seq("vmC"), after.toString)
  }

  test("negative matchers (beyond reference capability)") {
    val got = disk.querySeries(
      Seq(
        LabelMatcher.re(Tsdb.MetricLabel, "disk.*"),
        LabelMatcher.neq("node", "vm1"),
        LabelMatcher.eq("dc", "0")),
      Start, Start + 120)
    assert(got.count() == 6) // 3 disk metrics x {vm0, vm2}
  }

  test("negative regex matcher and unknown-metric queries") {
    // !~ "vm[01]" leaves only vm2 series of the disk metrics at dc=0
    val got = disk.querySeries(
      Seq(
        LabelMatcher.re(Tsdb.MetricLabel, "disk.*"),
        LabelMatcher.nre("node", "vm[01]"),
        LabelMatcher.eq("dc", "0")),
      Start, Start + 120)
    assert(got.count() == 3)
    assert(got.select("labels").collect()
      .forall(_.getAs[Map[String, String]](0)("node") == "vm2"))
    // unknown metric: empty result, not an error
    assert(disk.queryRange("no.such.metric", Seq.empty, Start, Start + 120)
      .count() == 0)
    // matcher on a label no series carries: empty
    assert(disk.querySeries(
      Seq(LabelMatcher.eq("region", "mars")), Start, Start + 120).count() == 0)
  }

  test("label normalization drops empty entries; sid is label-order independent") {
    import spark.implicits._
    val a = Seq(("m", Map("b" -> "2", "a" -> "1", "" -> "x", "c" -> ""), 0L, 1.0))
      .toDF("metric", "labels", "ts", "value")
    val b = Seq(("m", Map("a" -> "1", "b" -> "2"), 0L, 1.0))
      .toDF("metric", "labels", "ts", "value")
    val t = new Tsdb(spark, TsdbConf(dataPath = "", onlyMemoryMode = true))
    val sa = t.normalize(a).select("sid").head().getLong(0)
    val sb = t.normalize(b).select("sid").head().getLong(0)
    assert(sa == sb)
    val labels = t.normalize(a).select("labels").head().getAs[Map[String, String]](0)
    assert(labels == Map("__name__" -> "m", "a" -> "1", "b" -> "2"))
  }

  test("chunked shaping bounds row size and concatenates to the full series") {
    val m = Seq(LabelMatcher.eq("node", "vm0"), LabelMatcher.eq("dc", "1"))
    val full = disk.queryRangeShaped("cpu.busy", m, Start, Start + 60 * 50)
      .collect()(0).getAs[scala.collection.Seq[Row]]("points")
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val chunked = disk.queryRangeShapedChunked(
        "cpu.busy", m, Start, Start + 60 * 50, maxPointsPerRow = 20)
      .orderBy("sid", "chunk").collect()
    assert(chunked.forall(
      _.getAs[scala.collection.Seq[Row]]("points").length <= 20))
    val reassembled = chunked.flatMap(
      _.getAs[scala.collection.Seq[Row]]("points")
        .map(r => (r.getLong(0), r.getDouble(1)))).toSeq
    assert(reassembled == full && full.length == 51)
  }

  test("series-index semi-join path equals direct predicate path") {
    val m = Seq(LabelMatcher.re("node", "vm.*"), LabelMatcher.eq("dc", "2"))
    val viaIndex = disk.queryRange("mem.used", m, Start, Start + 600,
      useSeriesIndex = true).collect().map(_.toString).sorted
    val direct = disk.queryRange("mem.used", m, Start, Start + 600,
      useSeriesIndex = false).collect().map(_.toString).sorted
    assert(viaIndex.nonEmpty && viaIndex.sameElements(direct))
  }

  test("regex fast path matches the anchored-regex semantics") {
    // prefix, suffix, contains, literal, and genuine-regex forms all hit
    // the same series as the rlike formulation
    for (pat <- Seq("disk.*", ".*ops", ".*read.*", "disk.used", "disk\\..*ops")) {
      val fast = disk.querySeries(
        Seq(LabelMatcher.re(Tsdb.MetricLabel, pat)), Start, Start + 120)
        .select("metric").distinct().collect().map(_.getString(0)).sorted.toSeq
      val ref = Metrics.filter(_.matches("^(?:" + pat + ")$")).sorted
      assert(fast == ref, s"pattern $pat")
    }
  }

  test("exactly-aligned segment boundaries are not skipped (reference off-by-one)") {
    // the reference's Choose() uses strict comparisons and can miss a
    // segment whose MinTs equals the query start (segment.go:71-85);
    // SURVEY §7.4 mandates we do not replicate that. Points exactly at
    // multiples of segmentDuration must be found by boundary queries.
    import spark.implicits._
    val boundary = 7200L * 300000 // an exact bucket start
    val df = Seq(
      ("m", Map("k" -> "v"), boundary, 1.0),
      ("m", Map("k" -> "v"), boundary - 1, 2.0),
      ("m", Map("k" -> "v"), boundary + 7199, 3.0))
      .toDF("metric", "labels", "ts", "value")
    val t = Tsdb.attach(spark, df)
    assert(t.queryRange("m", Seq.empty, boundary, boundary).count() == 1)
    assert(t.queryRange("m", Seq.empty, boundary - 1, boundary).count() == 2)
    assert(t.queryRange("m", Seq.empty, boundary, boundary + 7199).count() == 2)
  }

  test("renderLabels produces the reference's {k=\"v\"} form") {
    import spark.implicits._
    val got = Seq(Map("b" -> "2", "a" -> "1")).toDF("labels")
      .select(graft.functions.LabelFunctions.renderLabels($"labels"))
      .head().getString(0)
    assert(got == "{a=\"1\", b=\"2\"}")
  }

  /** `n` one-point series of metric `bulk`: a base large enough that
    * parquet footers do not dominate the meta levels' byte ratio. */
  private def bulk(n: Int): DataFrame =
    spark.range(n).select(lit("bulk").as("metric"),
      map(lit("id"), col("id").cast("string")).as("labels"),
      lit(0L).as("ts"), lit(1.0).as("value"))

  test("series_meta compaction preserves content and bounds file count") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(dataPath = tempDir("compact")))
    def batch(off: Long) = Seq(
      ("m1", Map("n" -> "a"), off, 1.0),
      ("m2", Map("n" -> "b"), off + 60, 2.0))
      .toDF("metric", "labels", "ts", "value")
    t.insertRows(bulk(20000).unionByName(batch(0L)))
    (1 until 5).foreach(i => t.insertRows(batch(i * 86400L)))
    val before = t.seriesMeta.orderBy("sid").collect().map(_.toString).toSeq
    // batch 1 established the base level (m1 and m2 among 20,000 bulk
    // series); batches 2-5 appended fresh generations, folded to L1 by
    // the inline cadence (the delta stays far under half the base, so no
    // fold rewrote it)
    val deltaDir = new java.io.File(t.conf.dataPath + "/series_meta")
    val foldedDir = new java.io.File(t.conf.dataPath + "/series_meta_folded")
    val baseDir = new java.io.File(t.conf.dataPath + "/series_meta_base")
    def pq(d: java.io.File): Int =
      Option(d.listFiles).map(_.count(_.getName.endsWith(".parquet")))
        .getOrElse(0)
    val filesBefore = pq(deltaDir) + pq(foldedDir) + pq(baseDir)
    assert(pq(foldedDir) > 0, "the folded delta should survive")
    t.compactSeriesMeta()
    // full consolidation: delta levels cleared, everything in the base
    assert(!deltaDir.exists(), "fresh level should be cleared")
    assert(!foldedDir.exists(), "folded level should be cleared")
    val after = t.seriesMeta.orderBy("sid").collect().map(_.toString).toSeq
    val filesAfter = pq(deltaDir) + pq(foldedDir) + pq(baseDir)
    assert(after == before)
    assert(filesAfter < filesBefore)
    assert(after.length == 20002) // m1, m2 merged across 5 appends
    val m1 = t.seriesMeta.where(col("metric") === "m1").collect()
    assert(m1.map(r => (r.getAs[Long]("minTs"), r.getAs[Long]("maxTs")))
      .toSeq == Seq((0L, 4 * 86400L)))
    // the consolidated read is a plain scan — no merge aggregation
    val plan = t.seriesMeta.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), plan.take(1500))
  }

  test("typedSamples reconstructs labels on the normalized disk layout") {
    // the fact table stores only (sid, seg, ts, value); the typed view
    // joins labels back from the broadcast series dimension. (Local copy
    // of the bound: the typed filter closure must not capture the suite.)
    val bound = Start + 120
    def pick(t: Tsdb) = t.typedSamples
      .filter(s => s.metric == "cpu.busy" &&
        s.labels.get("node").contains("vm1") &&
        s.labels.get("dc").contains("0") &&
        s.ts <= bound)
      .collect().sortBy(_.ts)
    val got = pick(disk)
    assert(got.length == 3)
    assert(got.map(_.value).toSeq ==
      Seq(Start.toDouble, (Start + 60).toDouble, (Start + 120).toDouble))
    assert(got.forall(s =>
      s.labels == Map("__name__" -> "cpu.busy", "node" -> "vm1", "dc" -> "0")
        && s.seg == s.ts / 7200))
    // memory mode: identical rows through the head path
    assert(pick(mem).toSeq == got.toSeq)
  }

  test("unified view: queries see disk segments plus the live head") {
    // reference segment.go:62-65 — the segment list always yields disk
    // segments plus the memory head, so queries span the flush boundary
    import spark.implicits._
    def rows(from: Int, until: Int): DataFrame =
      (from until until).map(i =>
        ("m", Map("k" -> "v"), Start + i * 60L, (Start + i * 60L).toDouble))
        .toDF("metric", "labels", "ts", "value")
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("headdisk"), segmentDuration = 7200L))
    t.insertRows(rows(0, 100)) // durable
    t.insertHeadRows(rows(100, 240)) // live head, crosses a segment boundary
    // a range query across the flush boundary sees every point once
    val got = t.queryRange("m", Seq.empty, Start, Start + 239 * 60)
      .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value")))
      .sortBy(_._1).toSeq
    assert(got == (0 until 240).map(i =>
      (Start + i * 60L, (Start + i * 60L).toDouble)))
    // metadata queries also see the head's series bounds
    assert(t.querySeries(Seq(LabelMatcher.eq("k", "v")),
      Start + 200 * 60, Start + 239 * 60).count() == 1)
    // freezing the head must not change any query result
    t.flushHead()
    val after = t.queryRange("m", Seq.empty, Start, Start + 239 * 60)
      .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value")))
      .sortBy(_._1).toSeq
    assert(after == got)
  }

  test("maxRowsPerSegment is a real freeze trigger") {
    import spark.implicits._
    def rows(from: Int, until: Int): DataFrame =
      (from until until).map(i =>
        ("m", Map("k" -> "v"), Start + i * 60L, 1.0))
        .toDF("metric", "labels", "ts", "value")
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("maxrows"), segmentDuration = 7200L,
      maxRowsPerSegment = 50L))
    val samplesDir = new java.io.File(t.conf.dataPath + "/samples")
    t.insertHeadRows(rows(0, 30))
    assert(!samplesDir.exists()) // below the trigger: nothing durable yet
    t.insertHeadRows(rows(30, 60)) // 60 >= 50: head auto-freezes
    assert(samplesDir.exists())
    assert(spark.read.parquet(samplesDir.toString).count() == 60)
    // the head is empty again: next small batch stays in memory
    t.insertHeadRows(rows(60, 70))
    assert(spark.read.parquet(samplesDir.toString).count() == 60)
    assert(t.queryRange("m", Seq.empty, Start, Start + 69 * 60).count() == 70)
  }

  test("enableOutdated=false rejects writes into frozen segments") {
    import spark.implicits._
    def at(i: Int): DataFrame =
      Seq(("m", Map("k" -> "v"), Start + i * 60L, 1.0))
        .toDF("metric", "labels", "ts", "value")
    val conf = TsdbConf(
      dataPath = tempDir("outdated"), segmentDuration = 7200L,
      enableOutdated = false)
    val t = new Tsdb(spark, conf)
    t.insertHeadRows(at(0))
    t.flushHead() // freezes the first 2h segment
    // a row in the frozen segment is rejected…
    assert(t.insertHeadRows(at(1)) == 1L)
    // …a row in a newer segment is accepted
    assert(t.insertHeadRows(at(130)) == 0L) // 130*60 s > 7200 s
    assert(t.queryRange("m", Seq.empty, Start, Start + 240 * 60).count() == 2)
    // with the default enableOutdated=true the same late row is accepted
    val t2 = new Tsdb(spark, conf.copy(
      dataPath = tempDir("outdated2"), enableOutdated = true))
    t2.insertHeadRows(at(0))
    t2.flushHead()
    assert(t2.insertHeadRows(at(1)) == 0L)
    assert(t2.queryRange("m", Seq.empty, Start, Start + 240 * 60).count() == 2)
  }

  test("storage is seg-partitioned and retention drops expired partitions") {
    val t = disk
    val fs = new java.io.File(t.conf.dataPath + "/samples")
    val segDirs = fs.listFiles().filter(_.getName.startsWith("seg=")).map(_.getName)
    // 4h of data at 2h segmentDuration => exactly 2 buckets + boundary
    assert(segDirs.length >= 2)
    // retention: "now" far in the future expires everything
    val dropped = t.removeExpires(Start + 100L * 86400)
    assert(dropped.nonEmpty)
    val left = fs.listFiles().filter(_.getName.startsWith("seg=")).map(_.getName)
    assert(left.isEmpty)
  }

  test("retention sweeps the derived tiers (rollup, gorilla chunks) too") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("retention_tiers"), segmentDuration = 7200L,
      retention = 7L * 86400))
    // two segments of data, then materialize both derived tiers
    t.insertRows((0 until 240).map(i =>
      ("m", Map("k" -> (i % 3).toString), 1600000000L + i * 60L, i.toDouble))
      .toDF("metric", "labels", "ts", "value"))
    t.materializeRollup(3600L)
    t.materializeGorillaChunks()
    def segs(sub: String) = Option(
      new java.io.File(t.conf.dataPath + "/" + sub).listFiles)
      .map(_.count(_.getName.startsWith("seg="))).getOrElse(0)
    val before = (segs("samples"), segs("rollup_3600"), segs("gorilla_chunks"))
    assert(before._1 >= 2 && before._1 == before._2 && before._1 == before._3)
    // expire only the first segment: cutoff lands mid-data
    val dropped = t.removeExpires(1600000000L + 7L * 86400 + 7200L)
    assert(dropped == Seq(1600000000L / 7200L))
    // every tier dropped exactly the one expired bucket, kept the rest
    assert(segs("samples") == before._1 - 1)
    assert(segs("rollup_3600") == before._2 - 1)
    assert(segs("gorilla_chunks") == before._3 - 1)
    // the surviving data still serves from every path
    assert(t.queryRange("m", Seq.empty, 1600000000L, 1700000000L).count() > 0)
    assert(t.queryRangeFromChunks("m", Seq.empty, 1600000000L, 1700000000L)
      .count() > 0)
  }

  test("scheduled retention loop sweeps expired segments on its ticker") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("retention_loop"), segmentDuration = 7200L,
      retention = 86400L))
    t.insertRows(Seq(("m", Map("k" -> "v"), Start, 1.0))
      .toDF("metric", "labels", "ts", "value"))
    val dir = new java.io.File(t.conf.dataPath + "/samples")
    def segs() = dir.listFiles().count(_.getName.startsWith("seg="))
    assert(segs() == 1)
    // ticker with an injected clock far past retention: the 1 s-period
    // sweep must drop the segment without any explicit removeExpires call
    t.startRetentionLoop(periodSec = 1L, clock = () => Start + 100L * 86400)
    try {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (segs() > 0 && System.nanoTime() < deadline) Thread.sleep(200)
      assert(segs() == 0, "retention ticker did not sweep within 15 s")
    } finally t.stopRetentionLoop()
  }

  test("concat-regex fast path (lit1.*lit2) matches anchored Java regex") {
    import spark.implicits._
    val values = Seq(
      "diskops", "disk-io-ops", "disk_ops", "disk", "ops", "xdiskops",
      "diskopsx", "disko", "kops", "diskkops", "dops", "ds", "d-s",
      "disk.ops", "diskXops")
    val df = values.toDF("v")
      .withColumn("labels",
        org.apache.spark.sql.functions.map(
          org.apache.spark.sql.functions.lit("k"),
          org.apache.spark.sql.functions.col("v")))
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("concat_re"), onlyMemoryMode = true))
    for (pat <- Seq("disk.*ops", "disk.*kops", "d.*s", "di.*", ".*ops")) {
      val m = graft.model.LabelMatcher.re("k", pat)
      val got = df.where(t.matcherPredicate(
          org.apache.spark.sql.functions.col("labels"), Seq(m)))
        .select("v").collect().map(_.getString(0)).toSet
      val p = java.util.regex.Pattern.compile("^(?:" + pat + ")$")
      val expected = values.filter(v => p.matcher(v).find()).toSet
      assert(got == expected, s"pattern $pat")
      // and the fast path really bypassed regex evaluation
      val plan = df.where(t.matcherPredicate(
          org.apache.spark.sql.functions.col("labels"), Seq(m)))
        .queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("rlike"), s"$pat not rewritten:\n$plan")
    }
  }

  test("selector range query spans metrics on both storage layouts") {
    // fresh stores: the shared `disk` fixture is fully expired by the
    // retention test that runs earlier in this suite
    for (t <- Seq(mkTsdb(memory = false), mkTsdb(memory = true))) {
      val got = t.queryRangeSelector(
          Seq(graft.model.LabelMatcher.re(Tsdb.MetricLabel, "disk\\..*"),
            graft.model.LabelMatcher.eq("node", "vm1")),
          Start, Start + 600)
        .select(col("labels").getItem(Tsdb.MetricLabel).as("m"),
          col("labels").getItem("dc"), col("ts"), col("value"))
        .collect().map(_.toSeq).toSet
      // equals the union of the per-metric queryRange results
      val expected = Metrics.filter(_.startsWith("disk.")).flatMap { m =>
        t.queryRange(m, Seq(graft.model.LabelMatcher.eq("node", "vm1")),
            Start, Start + 600)
          .select(col("labels").getItem(Tsdb.MetricLabel).as("m"),
            col("labels").getItem("dc"), col("ts"), col("value"))
          .collect().map(_.toSeq)
      }.toSet
      assert(got == expected && got.nonEmpty)
      // and metric diversity is real: all three disk.* metrics present
      assert(got.map(_.head).size == 3)
    }
  }

  test("rollup-served aggregation merges to the raw-data answer exactly") {
    val t = mkTsdb(memory = false)
    t.materializeRollup(400L)
    // bucket-aligned window over the whole grid (Start = 1.6e9 is
    // 400-aligned; the 4h span is a whole number of 400 s buckets)
    val alignedEnd = Start + Steps * 60L - 1
    assert(Start % 400 == 0 && (alignedEnd + 1) % 400 == 0)
    val m = Seq(graft.model.LabelMatcher.eq("dc", "2"))
    val raw = Tsdb.gaugeAggregate(t.windowedSamples("cpu.busy", m, Start,
        alignedEnd, Seq("node"), 400L, None, 0L), perSeries = false,
        "moments")
      .orderBy("node", "bucket_start").collect().map(_.toSeq).toSeq
    val served = t.aggregateByFromRollup(400L, "cpu.busy", m, Start,
        alignedEnd, Seq("node"))
      .orderBy("node", "bucket_start").collect().map(_.toSeq).toSeq
    assert(raw.nonEmpty && served == raw)
    // misaligned windows are rejected rather than silently inexact
    intercept[IllegalArgumentException] {
      t.aggregateByFromRollup(400L, "cpu.busy", m, Start + 60, alignedEnd,
        Seq("node"))
    }
  }

  test("segment compaction merges append files, preserves every query") {
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("compact"), segmentDuration = 7200L,
      compression = "zstd"))
    // three appends covering the same segments -> >= 3 files per seg dir
    Metrics.grouped(3).foreach { ms =>
      t.insertRows(grid().where(col("metric").isin(ms: _*)))
    }
    def segFileCounts(): Map[String, Int] = {
      val base = new java.io.File(s"${t.conf.dataPath}/samples")
      base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("seg="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))).toMap
    }
    def snapshot() = t
      .queryRange("cpu.busy", Seq.empty, Start, Start + Steps * 60L)
      .select(col("labels").getItem("node"), col("labels").getItem("dc"),
        col("ts"), col("value"))
      .collect().map(_.toSeq).toSet
    val before = snapshot()
    val statsBefore = t.segmentStats.orderBy("seg").collect().map(_.toSeq).toSeq
    assert(segFileCounts().values.forall(_ >= 3), s"${segFileCounts()}")
    val compacted = t.compactSegments()
    assert(compacted.nonEmpty)
    assert(segFileCounts().values.forall(_ == 1), s"${segFileCounts()}")
    assert(snapshot() == before)
    assert(t.segmentStats.orderBy("seg").collect().map(_.toSeq).toSeq
      == statsBefore)
    // idempotent: a second pass finds nothing to do
    assert(t.compactSegments().isEmpty)
  }

  test("histogramQuantile: Prometheus interpolation, zero floor, +Inf clamp") {
    import spark.implicits._
    // three groups in one step bucket, buckets [10, 20]:
    //  a: 2,4,6,8,10   phi=.5 -> first bucket, floor 0: q = 0+10*(2.5-0)/5 = 5
    //  b: 5,12,14      phi=.5 -> crossing le=20: q = 10+10*(1.5-1)/2 = 12.5
    //  c: 5,15,100     phi=.5 -> target 1.5 crosses le=20: q = 10+10*(.5)/1=15
    //     (and phi=.9 -> target 2.7 crosses +Inf: q = last finite le = 20)
    val rows =
      Seq("a" -> 2.0, "a" -> 4.0, "a" -> 6.0, "a" -> 8.0, "a" -> 10.0,
        "b" -> 5.0, "b" -> 12.0, "b" -> 14.0,
        "c" -> 5.0, "c" -> 15.0, "c" -> 100.0)
        .zipWithIndex.map { case ((g, v), i) =>
          ("m", Map("g" -> g), 1000L + i, v)
        }
    val t = Tsdb.attach(spark, rows.toDF("metric", "labels", "ts", "value"))
    def q(phi: Double): Map[String, Double] =
      t.histogramQuantile("m", Seq.empty, 0L, 5000L, Seq("g"), 100000L,
          phi, Seq(10.0, 20.0))
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(q(0.5) == Map("a" -> 5.0, "b" -> 12.5, "c" -> 15.0))
    assert(q(0.9)("c") == 20.0)
  }

  test("predict_linear recovers an exact trend, excludes degenerate series") {
    import spark.implicits._
    // g=a: value = 2*x + 7 over x=0..9 -> slope 2.0, exact everywhere
    // g=b: one point -> no fit; g=c: two points at the SAME ts -> den 0
    val rows =
      (0 until 10).map(x => ("m", Map("g" -> "a"), 100L + x, 2.0 * x + 7)) ++
        Seq(("m", Map("g" -> "b"), 100L, 1.0),
          ("m", Map("g" -> "c"), 100L, 1.0), ("m", Map("g" -> "c"), 100L, 5.0))
    val t = Tsdb.attach(spark, rows.toDF("metric", "labels", "ts", "value"))
    val got = graft.promql.PromQL.query(t, "predict_linear(m[1h], 0) by (g)",
        100L, 150L)
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("a", 2.0, 2.0 * 50 + 7)))
  }

  test("labelReplace: anchored match, capture expansion, dst overwrite") {
    import spark.implicits._
    import graft.functions.LabelFunctions.labelReplace
    val df = Seq(
      Map("src" -> "abc123", "keep" -> "x"),
      Map("src" -> "abc123", "keep" -> "x", "dst" -> "old"),
      Map("src" -> "zzz", "keep" -> "x"),      // no match -> unchanged
      Map("keep" -> "x"))                      // src absent -> unchanged
      .toDF("labels")
    val out = df.select(labelReplace(
        col("labels"), "dst", "$1", "src", "[a-z]+(\\d+)").as("l"))
      .collect().map(_.getAs[Map[String, String]]("l"))
    assert(out(0) == Map("src" -> "abc123", "keep" -> "x", "dst" -> "123"))
    assert(out(1) == Map("src" -> "abc123", "keep" -> "x", "dst" -> "123"))
    assert(out(2) == Map("src" -> "zzz", "keep" -> "x"))
    assert(out(3) == Map("keep" -> "x"))
    // anchoring: a partial match must NOT fire ("abc123x" !~ ^[a-z]+(\d+)$)
    val part = Seq(Map("src" -> "abc123x")).toDF("labels")
      .select(labelReplace(col("labels"), "dst", "$1", "src",
        "[a-z]+(\\d+)").as("l"))
      .head().getAs[Map[String, String]]("l")
    assert(part == Map("src" -> "abc123x"))
  }

  test("labelReplace: empty expansion deletes dst (Prometheus semantics)") {
    import spark.implicits._
    import graft.functions.LabelFunctions.labelReplace
    val out = Seq(
      Map("src" -> "abc", "dst" -> "old"), // match, $1 empty -> dst removed
      Map("src" -> "abc123", "dst" -> "old"), // match, $1=123 -> dst=123
      Map("dst" -> "old")) // absent src matches "" -> "" expansion -> removed
      .toDF("labels")
      .select(labelReplace(
        col("labels"), "dst", "$1", "src", "[a-z]*(\\d*)").as("l"))
      .collect().map(_.getAs[Map[String, String]]("l"))
    assert(out(0) == Map("src" -> "abc"))
    assert(out(1) == Map("src" -> "abc123", "dst" -> "123"))
    assert(out(2) == Map.empty[String, String])
  }

  test("labelJoin: sep-joined sources, missing -> empty, all-empty deletes dst") {
    import spark.implicits._
    import graft.functions.LabelFunctions.labelJoin
    val out = Seq(
      Map("a" -> "x", "b" -> "y", "dst" -> "old"), // x-y overwrites dst
      Map("a" -> "x"),                             // missing b -> "x-"
      Map("c" -> "z", "dst" -> "old"))             // both missing -> "-" kept
      .toDF("labels")
      .select(labelJoin(col("labels"), "dst", "-", Seq("a", "b")).as("l"))
      .collect().map(_.getAs[Map[String, String]]("l"))
    assert(out(0) == Map("a" -> "x", "b" -> "y", "dst" -> "x-y"))
    assert(out(1) == Map("a" -> "x", "dst" -> "x-"))
    // concat_ws skips NO args here (they're empty strings, not null), so
    // two missing sources join to the bare separator — still non-empty,
    // dst is kept; a truly empty join (one empty source, no separator
    // content) deletes dst:
    assert(out(2) == Map("c" -> "z", "dst" -> "-"))
    val single = Seq(Map("c" -> "z", "dst" -> "old")).toDF("labels")
      .select(labelJoin(col("labels"), "dst", "-", Seq("a")).as("l"))
      .collect().map(_.getAs[Map[String, String]]("l"))
    assert(single(0) == Map("c" -> "z"))
  }

  // a delta that stays small beside the base; the delta that catches up
  // with it is the next case
  test("series_meta delta folds on the append cadence; base never rewrites") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("autocompact"), metaCompactEvery = 2))
    def batch(off: Long) = Seq(
      ("m1", Map("n" -> "a"), off, 1.0),
      ("m2", Map("n" -> "b"), off + 60, 2.0))
      .toDF("metric", "labels", "ts", "value")
    // append 1 establishes the base level (m1 and m2 among 20,000 bulk
    // series); append 2 accumulates a fresh (L0) generation; append 3
    // reaches the cadence (2 generations) and folds L0 into the
    // append-only folded level (L1) — the delta stays far under half
    // the base, so neither the base nor earlier L1 generations are ever
    // rewritten
    val baseDir = new java.io.File(t.conf.dataPath + "/series_meta_base")
    t.insertRows(bulk(20000).unionByName(batch(0L)))
    assert(baseDir.exists(), "first batch should establish the base level")
    val baseFiles0 = baseDir.listFiles.map(_.getName).toSet
    (1 until 3).foreach(i => t.insertRows(batch(i * 86400L)))
    val l0Dir = new java.io.File(t.conf.dataPath + "/series_meta")
    val l1Dir = new java.io.File(t.conf.dataPath + "/series_meta_folded")
    assert(!l0Dir.exists(), "fold should clear the fresh level")
    val l1Files = l1Dir.listFiles.count(_.getName.endsWith(".parquet"))
    assert(l1Files <= 4, s"expected one folded generation, got $l1Files")
    assert(baseDir.listFiles.map(_.getName).toSet == baseFiles0,
      "inline cadence fold must not rewrite the base level")
    // two more fold cycles APPEND to L1 without rewriting its files
    val l1Files0 = l1Dir.listFiles.map(_.getName).toSet
    (3 until 7).foreach(i => t.insertRows(batch(i * 86400L)))
    assert(!l0Dir.exists(), "append 7 is the third-cycle fold")
    assert(l1Files0.subsetOf(l1Dir.listFiles.map(_.getName).toSet),
      "later folds must never rewrite earlier folded generations")
    assert(baseDir.listFiles.map(_.getName).toSet == baseFiles0,
      "a small delta never rewrites the base level")
    // the merge-on-read split keeps the base out of any shuffle: the
    // delta joins it via broadcast anti/semi probes
    val plan = t.seriesMeta.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    // and the merged content spans all seven appends
    val rows = t.seriesMeta.where(col("metric") =!= "bulk")
      .orderBy("metric").collect()
    assert(rows.length == 2)
    val m1 = rows.find(_.getAs[String]("metric") == "m1").get
    // minTs comes from the base row, maxTs from the delta's
    assert(m1.getAs[Long]("minTs") == 0L)
    assert(m1.getAs[Long]("maxTs") == 6 * 86400L)
    assert(t.seriesMeta.count() == 20002L)
  }

  test("series_meta churn: a fold rewrites the base only once L1 " +
      "reaches half of it") {
    val path = tempDir("churn")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, metaCompactEvery = 2))
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def len(level: String): Long = {
      val d = new org.apache.hadoop.fs.Path(s"$path/$level")
      if (hfs.exists(d)) hfs.getContentSummary(d).getLength else 0L
    }
    def baseFiles = new java.io.File(s"$path/series_meta_base")
      .listFiles.map(_.getName).toSet
    t.insertRows(bulk(20000))
    // 10% churn: each append brings 2,000 new series, so every fold
    // takes a fresh level of about a fifth of the base
    val rewrites = (0 until 10).map { k =>
      val (base0, l1Before, files0) =
        (len("series_meta_base"), len("series_meta_folded"), baseFiles)
      t.insertRows(spark.range(2000).select(lit("churn").as("metric"),
        map(lit("id"), (col("id") + k * 2000).cast("string")).as("labels"),
        lit(k * 60L).as("ts"), lit(1.0).as("value")))
      val rewritten = baseFiles != files0
      assert(!rewritten || 2 * l1Before >= base0,
        s"append $k rewrote the base with L1 at $l1Before of $base0 bytes")
      assert(len("series_meta_folded") < len("series_meta_base"),
        s"append $k: the folded level outgrew the base")
      rewritten
    }
    assert(rewrites.count(identity) >= 1, "L1 never caught up")
    assert(t.seriesMeta.count() == 40000L)
  }

  test("series_meta delta that covers the base folds into it: " +
      "bounded rows on disk, one-aggregation read") {
    val series = 300
    val path = tempDir("scrape")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, metaCompactEvery = 2))
    // the scrape shape: every series gets a point in every batch
    def scrape(b: Int): DataFrame =
      spark.range(series).select(lit("m").as("metric"),
        map(lit("id"), col("id").cast("string")).as("labels"),
        (lit(b * 60L) + col("id") % 7).as("ts"), lit(b.toDouble).as("value"))
    def metaRowsOnDisk: Long =
      Seq("series_meta_base", "series_meta_folded", "series_meta")
        .map(l => s"$path/$l")
        .filter(new java.io.File(_).exists)
        .map(spark.read.parquet(_).count()).sum
    // eight batches: the last one leaves a fresh L0 generation beside the
    // base, so the read below has a delta to merge
    (0 until 8).foreach { b =>
      t.insertRows(scrape(b))
      val onDisk = metaRowsOnDisk
      assert(onDisk <= 2L * series, s"batch $b: $onDisk meta rows on disk")
    }
    // a delta as large as the base reads in ONE aggregation, no join
    val plan = t.seriesMeta.queryExecution.optimizedPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(aggs.size == 1 && joins.isEmpty, plan.toString.take(2000))
    // contents equal a compactSeriesMeta'd copy of the same store
    val copyPath = tempDir("scrape_copy") + "/store"
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(hfs,
      new org.apache.hadoop.fs.Path(path), hfs,
      new org.apache.hadoop.fs.Path(copyPath), false,
      spark.sparkContext.hadoopConfiguration)
    val copy = new Tsdb(spark, TsdbConf(dataPath = copyPath))
    copy.compactSeriesMeta()
    def rows(x: Tsdb) = x.seriesMeta.orderBy("sid").collect().toSeq
    val got = rows(t)
    assert(got.length == series)
    assert(got == rows(copy))
    assert(got.forall(_.getAs[Long]("maxTs") >= 7 * 60L))
  }

  test("building reads on a three-level store launches no Spark job") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val t = new Tsdb(spark, TsdbConf(dataPath = tempDir("nojobs"),
      metaCompactEvery = 2))
    val t0 = 1700000000L
    t.insertRows(spark.range(5000).select(lit("m").as("metric"),
      map(lit("n"), (col("id") % 10).cast("string"),
        lit("id"), col("id").cast("string")).as("labels"),
      (lit(t0) + col("id") % 600).as("ts"),
      col("id").cast("double").as("value")))
    (1 to 3).foreach(i => t.insertRows(
      Seq(("m", Map("n" -> "1", "id" -> "x"), t0 + i * 60L, i.toDouble))
        .toDF("metric", "labels", "ts", "value")))
    Seq("series_meta_base", "series_meta_folded", "series_meta",
      "label_values").foreach(l => assert(
      new java.io.File(s"${t.conf.dataPath}/$l").exists, s"$l missing"))
    val group = s"build-${System.nanoTime}"
    val sentinel = s"sentinel-${System.nanoTime}"
    val built = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => built.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val (s, e) = (t0, t0 + 900L)
      sc.setJobGroup(group, "build")
      val frames = Seq(
        graft.promql.PromQL.query(t, "sum by (n) (rate(m[300]))", s, e),
        t.querySeries(Seq(LabelMatcher.eq("n", "1")), s, e),
        t.queryLabelValues("n", s, e),
        t.queryRange("m", Seq(LabelMatcher.eq("n", "1")), s, e))
      // jobs reach listeners in order: once the sentinel job is seen,
      // every job the build launched has been counted
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).collect()
      sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(built.get == 0, s"${built.get} jobs while building")
      // and the frames are the real ones
      assert(frames(2).as[String].collect().toSeq ==
        (0 until 10).map(_.toString).sorted)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("close drains streaming ingest and head; reopen loses nothing") {
    import spark.implicits._
    val path = tempDir("close_drain")
    val t = new Tsdb(spark, TsdbConf(dataPath = path,
      segmentDuration = 7200L, maxRowsPerSegment = 0L))
    t.startRetentionLoop(periodSec = 3600L)
    // head-buffered rows: acknowledged to the caller but not yet durable
    val rows = (0 until 50).map(i =>
      ("m", Map("i" -> (i % 5).toString), 1600000000L + i * 60L, i.toDouble))
    t.insertHeadRows(rows.toDF("metric", "labels", "ts", "value"))
    // plus a streaming ingest query with data pending at close time
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long, Double)]
    mem.addData(rows.take(10).map { case (m, l, ts, v) =>
      (m, l("i"), ts + 999999L, v)
    })
    graft.streaming.Ingest.ingestStream(
      t,
      mem.toDF().toDF("metric", "i", "ts", "value")
        .withColumn("labels", map(lit("i"), col("i")))
        .select("metric", "labels", "ts", "value"),
      tempDir("close_ckpt"), triggerMs = 100L)
    t.close()
    // everything acknowledged before close() is served by a fresh instance
    val t2 = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    assert(t2.samples.count() == 60L)
    assert(t2.seriesMeta.count() == 5L)
  }

  test("filesPerSegment sub-buckets the write: bounded files per seg, " +
      "whole series per file, read-back identical to the default layout") {
    val data = grid()
    val t1 = new Tsdb(spark, TsdbConf(dataPath = tempDir("fps1"),
      segmentDuration = 7200L))
    t1.insertRows(data)
    val t4 = new Tsdb(spark, TsdbConf(dataPath = tempDir("fps4"),
      segmentDuration = 7200L, filesPerSegment = 4))
    // at toy scale AQE coalesces the sub-bucket shuffle back to one
    // task (the knob is an upper BOUND on files, not a floor); disable
    // coalescing for the write so the fan-out is observable here
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey, "true")
    spark.conf.set(coalesceKey, "false")
    try t4.insertRows(data)
    finally spark.conf.set(coalesceKey, prev)
    // read-back equality: same rows either way (layout is invisible)
    val key = Seq("sid", "ts", "value")
    assert(t4.samples.select(key.map(col): _*).except(
      t1.samples.select(key.map(col): _*)).isEmpty &&
      t1.samples.select(key.map(col): _*).except(
        t4.samples.select(key.map(col): _*)).isEmpty)
    // files per seg bucket bounded by the knob (>1 proves the sub-bucket
    // shuffle engaged; the grid spans multiple buckets)
    val perSeg = t4.samples
      .select(col("seg"), input_file_name().as("f"))
      .groupBy("seg").agg(countDistinct("f").as("nf"))
      .collect().map(r => r.getLong(1))
    // the knob is an upper bound per segment; the fan-out itself is
    // asserted on the max across segments (a per-segment >=2 would
    // depend on how the fixture's sids happen to hash into sub-buckets)
    assert(perSeg.nonEmpty && perSeg.forall(_ <= 4), perSeg.mkString(","))
    assert(perSeg.max >= 2, perSeg.mkString(","))
    // series locality: every sid lands whole inside ONE file per bucket
    val maxFilesPerSid = t4.samples
      .select(col("sid"), col("seg"), input_file_name().as("f"))
      .groupBy("sid", "seg").agg(countDistinct("f").as("nf"))
      .agg(max("nf")).head().getLong(0)
    assert(maxFilesPerSid == 1L)
  }

  /** One Spark job seen by [[tracingJobs]]: start and end (listener
    * event ms), the physical plan of its SQL execution, its job group. */
  private case class JobSpan(
      start: Long, end: Option[Long], plan: String, group: Option[String])

  /** Runs `body` under a fresh job group; returns the group, what `body`
    * returned or threw, the wall clock (ms) right after it returned, and
    * every Spark job whose SQL execution touches `path`. Events are
    * drained through a sentinel job: listeners see them in order, so once
    * the sentinel's start is seen every earlier job's start and end is. */
  private def tracingJobs[A](path: String)(body: => A)
      : (String, Either[Throwable, A], Long, Seq[JobSpan]) = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    val plans = new ConcurrentHashMap[Long, String]
    val starts =
      new ConcurrentHashMap[Int, (Long, Option[Long], Option[String])]
    val ends = new ConcurrentHashMap[Int, Long]
    val group = s"trace-${System.nanoTime}"
    val sentinel = s"sentinel-${System.nanoTime}"
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          plans.put(x.executionId, x.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.jobGroup.id").contains(sentinel)) drained.countDown()
        else starts.put(e.jobId, (e.time,
          prop("spark.sql.execution.id").map(_.toLong),
          prop("spark.jobGroup.id")))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "traced")
      val out =
        try Right(body)
        catch { case e: Throwable => Left(e) }
        finally sc.clearJobGroup()
      val returnedAt = System.currentTimeMillis()
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).collect()
      sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      val spans = starts.asScala.toSeq.sortBy(_._1).flatMap {
        case (id, (t, exec, g)) =>
          exec.flatMap(x => Option(plans.get(x)))
            .filter(_.contains(path))
            .map(plan => JobSpan(t, Option(ends.get(id)).map(_.longValue),
              plan, g))
      }
      (group, out, returnedAt, spans)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `series` series of one metric, each with `points` scrapes 600 s
    * apart from `t0` (so a batch spans several 2 h segments). */
  private def scrapes(series: Int, points: Int, t0: Long): DataFrame =
    spark.range(series.toLong * points).select(
      lit("m").as("metric"),
      map(lit("id"), (col("id") % series).cast("string"),
        lit("n"), (col("id") % series % 5).cast("string")).as("labels"),
      (lit(t0) + (col("id") / series).cast("long") * 600L).as("ts"),
      col("id").cast("double").as("value"))

  test("insertRows writes the tiers concurrently, every job in the " +
      "caller's job group") {
    val path = tempDir("overlap")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    t.insertRows(scrapes(2000, 4, Start))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (group, out, _, spans) =
      tracingJobs(path)(t.insertRows(scrapes(2000, 24, Start + 2400L)))
    assert(out.isRight, out)
    // the materialized batch is released once the writes have ended
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    val fact = spans.filter(_.plan.contains(s"$path/samples"))
    val other = spans.filter(s => s.plan.contains(s"$path/series_meta") ||
      s.plan.contains(s"$path/label_values"))
    assert(fact.nonEmpty && other.nonEmpty, spans.map(_.plan.take(300)))
    assert(spans.forall(_.group.contains(group)),
      spans.map(s => (s.group, s.plan.take(200))))
    val factEnd = fact.flatMap(_.end).max
    assert(other.map(_.start).min < factEnd,
      s"tier writes ran one after another: fact " +
        s"${fact.map(s => (s.start, s.end))}, meta/label values " +
        s"${other.map(s => (s.start, s.end))}")
    // and the store reads back whole
    assert(t.samples.count() == 2000L * 28)
    assert(t.seriesMeta.count() == 2000L)
    assert(t.queryLabelValues("n", Start, Start + 28 * 600L)
      .collect().map(_.getString(0)).toSeq == (0 until 5).map(_.toString))
  }

  test("a failed tier write fails insertRows only after the other " +
      "writes have ended") {
    val path = tempDir("tierfail")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    // a regular file where the label-values directory belongs
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "label_values"),
      "not a directory".getBytes)
    val (_, out, returnedAt, spans) =
      tracingJobs(path)(t.insertRows(scrapes(2000, 24, Start)))
    val err = out.swap.getOrElse(fail("insertRows should have thrown"))
    val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => String.valueOf(e.getMessage)
      .contains(s"$path/label_values")), chain.mkString("\n"))
    assert(spans.nonEmpty)
    assert(spans.forall(_.end.exists(_ <= returnedAt)),
      s"returned at $returnedAt, jobs ${spans.map(s => (s.start, s.end))}")
    // the fact and series-meta writes completed
    assert(t.samples.count() == 2000L * 24)
    assert(t.seriesMeta.count() == 2000L)
  }

  test("compactSegments throws a failed segment rewrite only after the " +
      "others are rewritten") {
    val path = tempDir("compactfail")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    // three appends over the same four segments: three files per segment
    (0 until 3).foreach(_ => t.insertRows(scrapes(200, 48, Start)))
    def dataFiles(d: java.io.File) = d.listFiles().count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val segs = new java.io.File(s"$path/samples").listFiles()
      .filter(_.getName.startsWith("seg=")).sortBy(_.getName).toSeq
    assert(segs.size >= 3 && segs.forall(dataFiles(_) >= 3))
    val bad = segs.head
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bad.getPath, "junk.parquet"),
      "not parquet".getBytes)
    val filesBefore = dataFiles(bad)
    intercept[Exception](t.compactSegments())
    assert(segs.tail.forall(dataFiles(_) == 1),
      segs.map(d => d.getName -> dataFiles(d)))
    assert(dataFiles(bad) == filesBefore, "the failed segment was swapped")
  }

  test("matcher reads filter every series-meta level before the merge: " +
      "equal to seriesMeta.where on the split and the one-aggregation read") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(dataPath = tempDir("metafilter"),
      segmentDuration = 7200L, metaCompactEvery = 2))
    def few(ids: Seq[Int], ts: Long) = ids.flatMap(i => Seq(
      ("m", Map("id" -> i.toString, "n" -> (i % 5).toString), ts, 1.0),
      ("other", Map("id" -> i.toString, "n" -> (i % 5).toString), ts, 2.0)))
      .toDF("metric", "labels", "ts", "value")
    // base (5,000 series), then a delta-only fold into L1, a fresh L0
    // generation and a head, each touching some base series and new ones
    t.insertRows(scrapes(5000, 1, Start))
    t.insertRows(few(Seq(1, 2, 3000), Start + 600L))
    t.insertRows(few(Seq(2, 3, 3001), Start + 1200L))
    t.insertRows(few(Seq(3, 4, 3002), Start + 1800L))
    t.insertHeadRows(few(Seq(4, 7, 3003), Start + 2400L))
    Seq("series_meta_base", "series_meta_folded", "series_meta")
      .foreach(l => assert(
        new java.io.File(s"${t.conf.dataPath}/$l").exists, s"$l missing"))
    val matcherSets = Seq(
      Seq(LabelMatcher.eq("__name__", "m"), LabelMatcher.re("n", "1|3")),
      Seq(LabelMatcher.re("__name__", "oth.*")),
      Seq(LabelMatcher.neq("__name__", "other"), LabelMatcher.nre("n", "1")),
      Seq(LabelMatcher.eq("id", "3")))
    def rows(df: DataFrame) = df.orderBy("sid").collect().toSeq
    def check(split: Boolean): Unit = {
      val joins = t.seriesMeta.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.nonEmpty == split, s"split read expected: $split")
      matcherSets.foreach { ms =>
        val got = t.seriesMeta(ms)
        val want = rows(t.seriesMeta.where(Tsdb.matcherPredicate(
          col("labels"), ms)))
        assert(want.nonEmpty, ms)
        assert(rows(got) == want, ms)
        import org.apache.spark.sql.catalyst.plans.logical.{
          Aggregate, Filter, LogicalPlan}
        def matcherFilter(p: LogicalPlan) = p match {
          case f: Filter => f.condition.references
            .exists(a => a.name == "labels" || a.name == "metric")
          case _ => false
        }
        val plan = got.queryExecution.optimizedPlan
        val filters = plan.collect { case f if matcherFilter(f) => f }
        val aggs = plan.collect { case a: Aggregate => a }
        assert(filters.nonEmpty && aggs.nonEmpty, plan)
        assert(filters.forall(_.collectFirst { case a: Aggregate => a }
          .isEmpty), s"a matcher Filter above an Aggregate:\n$plan")
        assert(aggs.forall(_.find(matcherFilter).isDefined),
          s"an Aggregate without the matcher Filter below it:\n$plan")
        // the public reads built on it
        val (s0, e0) = (Start, Start + 3000L)
        assert(rows(t.querySeries(ms, s0, e0)) == rows(
          t.seriesMeta.where(col("minTs") <= e0 && col("maxTs") >= s0)
            .where(Tsdb.matcherPredicate(col("labels"), ms))
            .select("sid", "metric", "labels")))
        def points(df: DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
        assert(points(t.queryRangeSelector(ms, s0, e0)) ==
          points(t.samplesWithLabels
            .where(col("ts").between(s0, e0))
            .where(Tsdb.matcherPredicate(col("labels"), ms))
            .select("sid", "labels", "ts", "value")), ms)
      }
    }
    check(split = true)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      check(split = false)
    }
  }

  // ------------------------------------- label_values: one copy per pair

  /** First second of a 2 h segment, so that a batch at `Seg0 + 60 i`
    * (i < 120) stays in one segment. */
  private val Seg0 = Start - Start % 7200L

  /** The `label_values` tier's rows on disk, (seg, name, value). */
  private def tierRows(path: String): Seq[(Long, String, String)] =
    spark.read.parquet(s"$path/label_values").collect().toSeq.map(r =>
      (r.getAs[Number]("seg").longValue, r.getAs[String]("name"),
        r.getAs[String]("value")))

  /** Data files of the `label_values` tier. */
  private def tierFiles(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(s"$path/label_values"))
  }

  /** One scrape of series `ids` (labels id, n = id % 5) at `ts`. */
  private def scrapeOf(ids: Seq[Int], ts: Long): DataFrame = {
    import spark.implicits._
    ids.map(i => ("m", Map("id" -> i.toString, "n" -> (i % 5).toString),
      ts, i.toDouble)).toDF("metric", "labels", "ts", "value")
  }

  /** The pairs one scrape of `ids` carries, in segment `seg`. */
  private def pairsOf(ids: Seq[Int], seg: Long): Set[(Long, String, String)] =
    ids.flatMap(i => Seq((seg, "id", i.toString), (seg, "n", (i % 5).toString),
      (seg, Tsdb.MetricLabel, "m"))).toSet

  test("label_values: scrapes of one segment hold each pair once; a " +
      "batch that brings no new pair writes no file") {
    val path = tempDir("lv_once")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    val ids = 0 until 40
    t.insertRows(scrapeOf(ids, Seg0))
    val files = tierFiles(path)
    (1 until 8).foreach(i => t.insertRows(scrapeOf(ids, Seg0 + 60L * i)))
    val rows = tierRows(path)
    assert(rows.size == rows.distinct.size, rows.diff(rows.distinct))
    assert(rows.toSet == pairsOf(ids, Seg0 / 7200L))
    assert(tierFiles(path) == files)
    assert(t.queryLabelValues("n", Seg0, Seg0 + 600L)
      .collect().map(_.getString(0)).toSeq == (0 until 5).map(_.toString))
  }

  test("label_values: a batch appends exactly the pairs its segments " +
      "lack — new series, a new segment, a late batch into an older one") {
    val path = tempDir("lv_delta")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    val (s0, s1) = (Seg0 / 7200L, Seg0 / 7200L + 1)
    t.insertRows(scrapeOf(0 until 30, Seg0))
    def added(body: => Unit): Set[(Long, String, String)] = {
      val before = tierRows(path)
      body
      val after = tierRows(path)
      assert(after.size == after.distinct.size, after.diff(after.distinct))
      after.toSet -- before
    }
    // three new series: only their ids are new to the segment
    assert(added(t.insertRows(scrapeOf(0 until 33, Seg0 + 60L))) ==
      (30 until 33).map(i => (s0, "id", i.toString)).toSet)
    // a batch over both segments: the new one gets its full pair set
    assert(added(t.insertRows(scrapeOf(0 until 33, Seg0 + 120L)
      .unionByName(scrapeOf(0 until 33, Seg0 + 7200L)))) ==
      pairsOf(0 until 33, s1))
    // a late batch into the older segment adds its pairs there only
    assert(added(t.insertRows(scrapeOf(Seq(0, 40, 41), Seg0 + 180L))) ==
      Set((s0, "id", "40"), (s0, "id", "41")))
  }

  test("label_values: a null metric's null-valued __name__ pair is " +
      "written once") {
    import spark.implicits._
    val path = tempDir("lv_null")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    def batch(ts: Long) = Seq[(String, Map[String, String], Long, Double)](
      (null, Map("id" -> "0"), ts, 1.0), ("m", Map("id" -> "1"), ts, 2.0))
      .toDF("metric", "labels", "ts", "value")
    (0 until 3).foreach(i => t.insertRows(batch(Seg0 + 60L * i)))
    val rows = tierRows(path)
    assert(rows.count(_ == ((Seg0 / 7200L, Tsdb.MetricLabel, null))) == 1,
      rows)
    assert(rows.size == rows.distinct.size, rows)
  }

  test("label_values: a tier that already holds copies reads right, " +
      "stops growing, and compaction removes the copies") {
    val path = tempDir("lv_copies")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    t.insertRows(scrapeOf(0 until 20, Seg0))
    // the shape an older store has: every batch appended its pairs again
    val tier = s"$path/label_values"
    val copies = spark.read.parquet(tier).localCheckpoint()
    (0 until 2).foreach(_ => copies.write.mode("append")
      .partitionBy("seg").parquet(tier))
    val held = tierRows(path)
    assert(held.size == 3 * held.distinct.size)
    (1 until 4).foreach(i => t.insertRows(scrapeOf(0 until 20, Seg0 + 60L * i)))
    assert(tierRows(path).size == held.size)
    t.insertRows(scrapeOf(0 until 21, Seg0 + 240L))
    assert(tierRows(path).size == held.size + 1)
    assert(t.queryLabelValues("id", Seg0, Seg0 + 300L).collect()
      .map(_.getString(0)).toSeq == (0 until 21).map(_.toString).sorted)
    t.compactLabelValues()
    val compacted = tierRows(path)
    assert(compacted.size == compacted.distinct.size)
    assert(compacted.toSet == pairsOf(0 until 21, Seg0 / 7200L))
  }

  test("label_values: the label reads equal the fact-table answer on the " +
      "same batches (the tier as every batch's full pair set served it)") {
    val path = tempDir("lv_reads")
    val conf = TsdbConf(dataPath = path, segmentDuration = 7200L)
    val t = new Tsdb(spark, conf)
    t.insertRows(scrapes(40, 12, Seg0))                // two segments
    t.insertRows(scrapes(50, 12, Seg0 + 3600L))        // + new series
    t.insertRows(scrapeOf(Seq(3, 60, 61), Seg0 + 60L)) // late
    t.insertRows(scrapes(50, 4, Seg0 + 3 * 7200L))     // a gap segment
    val windows = Seq((Seg0, Seg0 + 60L), (Seg0 + 7300L, Seg0 + 8000L),
      (Seg0, Seg0 + 4 * 7200L), (Seg0 + 2 * 7200L, Seg0 + 2 * 7200L + 10))
    def answers(x: Tsdb) = windows.flatMap { case (s, e) =>
      Seq("id", "n", Tsdb.MetricLabel, "absent").map(l =>
        x.queryLabelValues(l, s, e).collect().map(_.getString(0)).toSeq) :+
        x.queryLabelNames(s, e).collect().map(_.getString(0)).toSeq
    }
    val tierServed = answers(t)
    // drop the tier: the same reads fall back to the fact table
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$path/label_values"), true)
    assert(tierServed == answers(new Tsdb(spark, conf)))
    assert(tierServed.exists(_.size > 40))
  }

  test("label_values append: the existing-pairs read is pruned to the " +
      "batch's segments and no broadcast is forced on it") {
    val path = tempDir("lv_plan")
    val t = new Tsdb(spark, TsdbConf(dataPath = path, segmentDuration = 7200L))
    t.insertRows(scrapes(200, 48, Seg0)) // four segments
    val lastSeg = (Seg0 + 47 * 600L) / 7200L
    // no broadcast unless a hint forces one; one-line scan nodes
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.ui.explainMode" -> "simple") {
      val (_, out, _, spans) = tracingJobs(s"$path/label_values")(
        t.insertRows(scrapes(210, 1, Seg0 + 47 * 600L)))
      assert(out.isRight, out)
      val scans = spans.map(_.plan).distinct.flatMap(_.linesIterator
        .filter(l => l.contains("FileScan parquet") &&
          l.contains(s"$path/label_values")))
      assert(scans.nonEmpty, spans.map(_.plan.take(2000)))
      assert(scans.forall(_.matches(
        s".*PartitionFilters: \\[[^\\]]*seg#\\d+ = $lastSeg\\b.*")),
        scans.mkString("\n"))
      assert(spans.forall(!_.plan.contains("Broadcast")),
        spans.map(_.plan).mkString("\n\n"))
    }
    assert(tierRows(path).count(_._1 == lastSeg) == 210 + 5 + 1)
  }

  test("label_values append: insertRows runs at most one job more than " +
      "the full-pair-set append did") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val t = new Tsdb(spark, TsdbConf(dataPath = tempDir("lv_jobs"),
      segmentDuration = 7200L))
    t.insertRows(scrapes(2000, 4, Start))
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]
    val sentinel = s"sentinel-${System.nanoTime}"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          if (g == sentinel) drained.countDown() else counts.merge(g, 1, _ + _)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val groups = (1 to 4).map(i => s"lv-jobs-$i-${System.nanoTime}")
    try {
      groups.zipWithIndex.foreach { case (g, i) =>
        sc.setJobGroup(g, "insert")
        t.insertRows(scrapes(2000, 4, Start + 2400L * (i + 1)))
      }
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).collect()
      sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // the full-pair-set append ran 8 jobs per batch, 10 with the
    // series-meta fold (every second batch): the checkpoint, the three
    // writes' query stages and the fold
    val got = groups.map(g => counts.getOrDefault(g, 0))
    assert(got.zip(Seq(8, 10, 8, 10)).forall { case (n, was) =>
      n <= was + 1 }, got)
  }
}
