package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.TsdbConf
import graft.streaming.{CorpusFilter, Ingest}

/** Structured Streaming ingest + windowed aggregation tests (reference O1 /
  * O16 capability): micro-batch ingest through foreachBatch into the TSDB,
  * and a watermarked tumbling-window aggregation over a memory stream.
  */
class StreamingSpec extends SparkSuite {

  import spark.implicits._

  test("streaming ingest lands rows in seg-partitioned storage") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val src = mem.toDF().toDF("metric", "ts", "value")
      .withColumn("labels", map(lit("node"), lit("vm0")))
    val tsdb = new Tsdb(spark, TsdbConf(dataPath = tempDir("stream")))
    mem.addData(
      ("cpu.busy", 1600000000L, 1.0),
      ("cpu.busy", 1600000060L, 2.0),
      ("cpu.busy", 1600008000L, 3.0)) // second 2h segment
    val q = Ingest.ingestStream(tsdb, src, tempDir("ckpt"))
    q.processAllAvailable()
    q.stop()
    val got = tsdb.queryRange("cpu.busy", Seq.empty, 1600000000L, 1600010000L)
    assert(got.count() == 3)
    val segs = tsdb.samples.select("seg").distinct().count()
    assert(segs == 2)
  }

  test("kafka-shaped source: the (key, value, timestamp, partition) " +
      "wire contract parses into samples and ingests") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.KafkaShaped
    // memory-stream rows of EXACTLY the kafka connector's wire schema
    val mem = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long,
      java.sql.Timestamp, Int)]
    val src = mem.toDF().toDF("key", "value", "topic", "partition",
      "offset", "timestamp", "timestampType")
    // same columns and types (memory-stream primitives pin tighter
    // nullability than the connector's, which is fine for a producer)
    assert(src.schema.map(f => (f.name, f.dataType)) ==
      KafkaShaped.wireSchema.map(f => (f.name, f.dataType)))
    def rec(key: String, json: String, part: Int, off: Long,
        brokerTs: Long) =
      (key.getBytes("UTF-8"), json.getBytes("UTF-8"), "metrics", part,
        off, new java.sql.Timestamp(brokerTs * 1000L), 0)
    val tsdb = new Tsdb(spark, TsdbConf(dataPath = tempDir("kafka")))
    mem.addData(
      rec("cpu.busy", """{"metric":"cpu.busy","labels":{"node":"vm0"},
        "ts":1600000000,"value":1.5}""".replace("\n", ""), 0, 0L,
        1600000900L),
      // payload without ts: the broker timestamp is the event time
      rec("cpu.busy", """{"metric":"cpu.busy","labels":{"node":"vm1"},
        "value":2.5}""".replace("\n", ""), 1, 0L, 1600000060L),
      // no labels at all: defaults to the empty map, not null
      rec("mem.used", """{"metric":"mem.used","value":7.0,
        "ts":1600000120}""".replace("\n", ""), 2, 5L, 1600000999L))
    val q = Ingest.ingestStream(tsdb, KafkaShaped.samples(src),
      tempDir("ckpt_kafka"))
    q.processAllAvailable()
    q.stop()
    val cpu = tsdb.queryRange("cpu.busy", Seq.empty,
      1600000000L, 1600001000L).orderBy("ts").collect()
    assert(cpu.length == 2)
    assert(cpu.map(_.getAs[Long]("ts")).toSeq ==
      Seq(1600000000L, 1600000060L)) // payload ts, then broker fallback
    assert(tsdb.queryRange("mem.used", Seq.empty,
      1600000000L, 1600001000L).count() == 1)
    // the key column is a partitioning hint only: series identity comes
    // from (metric, labels) — the two cpu.busy rows are DIFFERENT series
    assert(tsdb.queryRange("cpu.busy", Seq.empty,
      1600000000L, 1600001000L)
      .select(col("labels").getItem("node")).distinct().count() == 2)
    // batch parse of the same wire shape (the connector's batch twin)
    val batchWire = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        null, """{"metric":"disk.io","value":3.0,"ts":1600000200}"""
          .getBytes("UTF-8"),
        "metrics", 0, 9L, new java.sql.Timestamp(1600000300000L), 0))),
      KafkaShaped.wireSchema)
    val parsed = KafkaShaped.samples(batchWire).collect()
    assert(parsed.length == 1 &&
      parsed.head.getAs[String]("metric") == "disk.io" &&
      parsed.head.getAs[Long]("ts") == 1600000200L)
    // malformed payloads: loud by default (at-least-once redelivery
    // would otherwise silently lose data), sheddable on request
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        null, "not json".getBytes("UTF-8"), "metrics", 0, 1L,
        new java.sql.Timestamp(1600000000000L), 0))),
      KafkaShaped.wireSchema)
    val e = intercept[Exception](KafkaShaped.samples(bad).collect())
    assert(e.getMessage != null)
    assert(KafkaShaped.samples(bad, onMalformed = "drop").isEmpty)
  }

  test("head-buffered streaming ingest: queries see head+disk; row trigger flushes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val src = mem.toDF().toDF("metric", "ts", "value")
      .withColumn("labels", map(lit("node"), lit("vm0")))
    // maxRowsPerSegment=4 so the second batch trips the row trigger
    val tsdb = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("streamhead"), maxRowsPerSegment = 4L))
    val q = Ingest.ingestStreamHead(tsdb, src, tempDir("ckpt_head"),
      flushEveryBatches = 1000) // batch trigger effectively off: rows drive it
    mem.addData(
      ("cpu.busy", 1600000000L, 1.0),
      ("cpu.busy", 1600000060L, 2.0))
    q.processAllAvailable()
    // 2 rows: still head-only (no durable files), but queries see them
    val samplesDir = new java.io.File(tsdb.conf.dataPath + "/samples")
    assert(!samplesDir.exists())
    assert(tsdb.queryRange("cpu.busy", Seq.empty,
      1600000000L, 1600010000L).count() == 2)
    mem.addData(
      ("cpu.busy", 1600000120L, 3.0),
      ("cpu.busy", 1600008000L, 4.0)) // 4 rows total: row trigger fires
    q.processAllAvailable()
    q.stop()
    assert(samplesDir.exists())
    assert(spark.read.parquet(samplesDir.toString).count() == 4)
    // unified view unchanged across the freeze
    assert(tsdb.queryRange("cpu.busy", Seq.empty,
      1600000000L, 1600010000L).count() == 4)
    assert(tsdb.samples.select("seg").distinct().count() == 2)
  }

  test("writeListenerTimeoutSec bounds micro-batch writes (overload signal)") {
    implicit val sqlCtx = spark.sqlContext
    // bound of 0 s: any real durable write exceeds it, so the first
    // micro-batch must fail the query with the overload exception —
    // proving the knob is consulted (the reference stores its 30 s
    // writeTimeout but never reads it back; SURVEY §2.1 fidelity note)
    val mem = MemoryStream[(String, Long, Double)]
    val src = mem.toDF().toDF("metric", "ts", "value")
      .withColumn("labels", map(lit("node"), lit("vm0")))
    val tsdb = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("wtimeout"), writeListenerTimeoutSec = 0L))
    mem.addData(("cpu.busy", 1600000000L, 1.0))
    val q = Ingest.ingestStream(tsdb, src, tempDir("ckpt_wt"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(err).exists(_.isInstanceOf[Ingest.WriteTimeoutException]),
      causes(err).map(_.getClass.getName).toString)
    // a disabled bound (< 0) ingests the same data without complaint
    val mem2 = MemoryStream[(String, Long, Double)]
    val src2 = mem2.toDF().toDF("metric", "ts", "value")
      .withColumn("labels", map(lit("node"), lit("vm0")))
    val tsdb2 = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("wtimeout2"), writeListenerTimeoutSec = -1L))
    mem2.addData(("cpu.busy", 1600000000L, 1.0))
    val q2 = Ingest.ingestStream(tsdb2, src2, tempDir("ckpt_wt2"))
    q2.processAllAvailable()
    q2.stop()
    assert(tsdb2.samples.count() == 1)
  }

  test("streaming dedup drops within-watermark duplicates with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val src = mem.toDF().toDF("ts", "text")
    val q = Ingest.dedupStream(src, "ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def t(min: Int) = new java.sql.Timestamp(1600000000000L + min * 60000L)
    mem.addData((t(0), "alpha"), (t(1), "alpha"), (t(2), "beta"))
    q.processAllAvailable()
    mem.addData((t(3), "alpha"), (t(4), "gamma")) // alpha still a dup
    q.processAllAvailable()
    q.stop()
    val texts = spark.table("dedup_out")
      .select("text").collect().map(_.getString(0)).toSeq
    assert(texts.sorted == Seq("alpha", "beta", "gamma"), texts.toString)
  }

  test("watermarked tumbling window aggregates and drops very-late data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val src = mem.toDF().toDF("ts", "key", "value")
    val agg = Ingest.windowedAgg(src, "ts", "key", "value",
      "10 minutes", "20 minutes")
    val q = agg.writeStream
      .format("memory").queryName("winagg")
      .outputMode("append")
      .start()
    def t(min: Int) = new java.sql.Timestamp(1600000000000L + min * 60000L)
    mem.addData((t(0), "a", 1.0), (t(5), "a", 2.0), (t(12), "a", 4.0))
    q.processAllAvailable()
    // advance watermark far beyond the first window, then send a too-late row
    mem.addData((t(60), "a", 8.0))
    q.processAllAvailable()
    mem.addData((t(1), "a", 100.0)) // later than watermark: dropped
    q.processAllAvailable()
    mem.addData((t(120), "a", 16.0)) // close remaining windows
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("winagg")
      .select(col("window.start").cast("long").as("w"), col("n"), col("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // windows are epoch-aligned: t0=1600000000 falls in [1599999600, +600).
    // that window holds only t0 (n=1 sum=1) — proving the very-late 100.0
    // was dropped after the watermark passed
    assert(rows.contains((1599999600L, 1L, 1.0)), rows.toString)
    // next window holds t5 and t12 => n=2 sum=6
    assert(rows.contains((1600000200L, 2L, 6.0)), rows.toString)
    assert(!rows.exists(_._3 >= 100.0), "late row must be dropped")
  }

  test("sliding streaming windows overlap: each event lands in dur/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val src = mem.toDF().toDF("ts", "key", "value")
    val agg = Ingest.windowedAgg(src, "ts", "key", "value",
      "10 minutes", "20 minutes", slide = "5 minutes")
    val q = agg.writeStream
      .format("memory").queryName("slideagg")
      .outputMode("append")
      .start()
    def t(min: Int) = new java.sql.Timestamp(1600000000000L + min * 60000L)
    mem.addData((t(2), "a", 1.0))
    q.processAllAvailable()
    mem.addData((t(120), "a", 8.0)) // advance watermark: close all windows
    q.processAllAvailable()
    mem.addData((t(240), "a", 16.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("slideagg")
      .select(col("window.start").cast("long").as("w"), col("sum_v"))
      .where(col("sum_v") === 1.0)
      .collect().map(_.getLong(0)).toSet
    // t(2) = epoch 1600000120; epoch-aligned 10-min windows sliding every
    // 5 min that cover it start at 1599999600 and 1599999900 — exactly
    // dur/slide = 2 windows
    assert(rows == Set(1599999600L, 1599999900L), rows.toString)
  }

  test("file-source streaming ingest over micro-batches matches batch semantics") {
    val srcDir = tempDir("stream_src")
    graft.sources.Tables.events(spark, sf0001)
      .select(
        col("event_type").as("metric"),
        map(lit("user_id"), col("user_id").cast("string")).as("labels"),
        col("ts_s").as("ts"),
        col("value"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // force multiple micro-batches
      .parquet(srcDir)
    val tsdb = new Tsdb(spark, graft.model.TsdbConf(
      dataPath = tempDir("stream_tsdb"), segmentDuration = 86400L))
    val q = Ingest.ingestStream(tsdb, stream, tempDir("ck2"))
    q.processAllAvailable()
    q.stop()
    assert(tsdb.samples.count() == 1000)
    // a range query over the streamed store matches the batch computation
    val t0 = 1704067200L
    val t1 = t0 + 7 * 86400 - 1
    val streamed = tsdb.queryRange("click", Seq.empty, t0, t1).count()
    val batch = graft.sources.Tables.events(spark, sf0001)
      .where(col("event_type") === "click" && col("ts_s").between(t0, t1))
      .count()
    assert(streamed == batch && streamed > 0)
    // series metadata merged across micro-batches: one row per series
    val sids = tsdb.seriesMeta.count()
    assert(sids == tsdb.samples.select("sid").distinct().count())
  }

  test("streaming dedup over the sf0.01 corpus equals batch exact dedup") {
    implicit val sqlCtx = spark.sqlContext
    val sf001 = "/root/testdata/sf0.01"
    val docs = graft.sources.Tables.documents(spark, sf001)
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toIndexedSeq
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val q = Ingest.dedupStream(src, "ts", "text", "1 hour")
      .writeStream.format("memory").queryName("dedup_eq")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamTexts = spark.table("dedup_eq")
      .select("text").collect().map(_.getString(0)).toSeq
    // exactly one representative per distinct text — the same content set
    // (and cardinality) the oracled batch operator produces
    assert(streamTexts.length == streamTexts.distinct.length)
    assert(streamTexts.toSet ==
      docs.select("text").distinct().collect().map(_.getString(0)).toSet)
    assert(streamTexts.length ==
      graft.operators.Dedup.exact(docs, "doc_id", "text").count())
  }

  test("streaming sessionization over sf0.01 events equals batch sessionize") {
    implicit val sqlCtx = spark.sqlContext
    val sf001 = "/root/testdata/sf0.01"
    val events = graft.sources.Tables.events(spark, sf001)
    val data = events
      .select(col("user_id").cast("long"), col("ts_s"), col("value"))
      .collect()
      .map(r => (r.getLong(0),
        new java.sql.Timestamp(r.getLong(1) * 1000L), r.getDouble(2)))
      .toIndexedSeq
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("user_id", "ts", "value")
    val q = graft.streaming.SessionizeStream
      .sessionize(src, gapSec = 1800L, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("sess_eq")
      .outputMode("append").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    // two far-future sentinels: the first advances the watermark, the
    // second triggers the batch in which every open session times out
    val maxMs = data.map(_._2.getTime).max
    mem.addData((-1L, new java.sql.Timestamp(maxMs + 100L * 86400 * 1000), 0.0))
    q.processAllAvailable()
    mem.addData((-1L, new java.sql.Timestamp(maxMs + 101L * 86400 * 1000), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_eq").where(col("user_id") >= 0)
      .select("user_id", "session_start", "session_end", "n_events", "sum_v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // the batch twin — the relation behind the oracled q_sessionize query
    val batch = graft.operators.EventOps.sessionize(
        events, "user_id", "ts_s", "event_id", "value", 1800L)
      .select(col("user_id").cast("long"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} " +
        s"batch-only=${(batch -- streamed).take(3)}")
  }

  test("stateful streaming sessionization closes sessions on gap and timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("user_id", "ts", "value")
    val sessions = graft.streaming.SessionizeStream
      .sessionize(src, gapSec = 600, watermark = "5 minutes")
    val q = sessions.toDF().writeStream
      .format("memory").queryName("sessions")
      .outputMode("append")
      .start()
    def t(min: Int) = new java.sql.Timestamp(1600000000000L + min * 60000L)
    // user 1: two bursts 30 min apart (> 10 min gap) => first closes eagerly
    mem.addData((1L, t(0), 1.0), (1L, t(2), 2.0))
    q.processAllAvailable()
    mem.addData((1L, t(30), 4.0))
    q.processAllAvailable()
    // advance watermark far past the second burst to close it by timeout
    mem.addData((2L, t(120), 8.0))
    q.processAllAvailable()
    mem.addData((2L, t(240), 16.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions")
      .select("user_id", "session_start", "session_end", "n_events", "sum_v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // first burst: events at t0 and t2, closed when t30 arrived
    assert(got.contains((1L, 1600000000L, 1600000120L, 2L, 3.0)), got.toString)
    // second burst closed by event-time timeout
    assert(got.contains((1L, 1600001800L, 1600001800L, 1L, 4.0)), got.toString)
  }

  test("streaming decontamination equals the batch complement at sf0.01") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val bench = docs.where(col("doc_id") % 20 === 0)
    val train = docs.where(col("doc_id") % 20 =!= 0)
    // batch truth: training docs minus the flagged set
    val flagged = graft.operators.TextAnalysis
      .decontaminate(train, bench, "doc_id", "text", 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = train.select("doc_id").collect().map(_.getLong(0)).toSet -- flagged
    // stream the training docs through the literal-set filter
    val mem = MemoryStream[(Long, String)]
    mem.addData(train.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
    val q = CorpusFilter.decontaminateStream(
        mem.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", 4)
      .writeStream.format("memory").queryName("decontam_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("decontam_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect,
      s"stream minus batch: ${(got -- expect).take(5)}; " +
        s"batch minus stream: ${(expect -- got).take(5)}")
  }

  test("streaming DSIR scoring is row-identical to batch dsirWeights on " +
      "a replayed corpus") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val target = docs.where(col("lang") === "en")
    val expect = graft.operators.TextAnalysis
      .dsirWeights(docs, target, "doc_id", "text", buckets = 1024)
      .select("doc_id", "n_grams", "weight_micro")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val factors = graft.operators.TextAnalysis
      .dsirFactors(docs, target, "doc_id", "text", buckets = 1024)
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
    val q = CorpusFilter.dsirScoreStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", factors, 1024)
      .select("doc_id", "n_grams", "weight_micro")
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dsir_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty,
      s"stream minus batch: ${(got -- expect).take(3)}; " +
        s"batch minus stream: ${(expect -- got).take(3)}")
  }

  test("streaming LM perplexity scoring is row-identical to batch " +
      "lmScores on a replayed corpus") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val (uniF, bigF) = graft.operators.TextAnalysis
      .lmFactors(docs, "text", "lang", buckets = 2048)
    val expect = graft.operators.TextAnalysis
      .lmScores(docs, uniF, bigF, "doc_id", "text", "lang", buckets = 2048)
      .select("doc_id", "lang", "n_events", "h_micro", "ppl")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(docs.select("doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq: _*)
    val q = graft.streaming.CorpusFilter.lmScoreStream(
        mem.toDF().toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang", uniF, bigF, buckets = 2048)
      .writeStream.format("memory").queryName("lm_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("lm_out")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == expect && got.nonEmpty,
      s"stream minus batch: ${(got -- expect).take(3)}; " +
        s"batch minus stream: ${(expect -- got).take(3)}")
  }

  test("streaming quality gate equals the batch absolute-threshold filter") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val expect = graft.operators.TextAnalysis
      .qualityScore(docs, "doc_id", "text")
      .where(col("quality") >= 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
    val q = CorpusFilter.qualityFilterStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .writeStream.format("memory").queryName("quality_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("quality_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect && got.nonEmpty, s"${got.size} vs ${expect.size}")
  }

  test("streaming windowed aggregation equals the batch sum by at sf0.01") {
    implicit val sqlCtx = spark.sqlContext
    val sf001 = "/root/testdata/sf0.01"
    val T0 = 1704412800L; val T1 = 1705017599L
    // batch truth: the registered tsdb_agg_by plan
    val events = graft.sources.Tables.events(spark, sf001)
    val batch = graft.promql.PromQL.query(
        Tsdb.attach(spark, events.select(
          col("event_type").as("metric"),
          map(lit("cohort"), pmod(col("user_id"), lit(10)).cast("string"))
            .as("labels"),
          col("ts_s").as("ts"), col("value"))),
        "sum by (cohort) (click[1h])", T0, T1)
      .select(col("cohort"), col("bucket_start"), col("n"),
        col("sum_v"), col("min_v"), col("max_v"))
      .collect().map(_.toSeq).toSet
    // stream the same rows; decimal-cast value makes the windowed sum
    // order-independent, so stream ≡ batch is EXACT, not approximate
    val data = events
      .where(col("event_type") === "click" && col("ts_s").between(T0, T1))
      .select(pmod(col("user_id"), lit(10)).cast("string"),
        col("ts_s"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2) // event-time-ordered replay: nothing falls behind the
      .toIndexedSeq //  10-minute watermark; windows still span both waves
    val mem = MemoryStream[(String, Long, Double)]
    val src = mem.toDF().toDF("cohort", "ts_s", "value")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .withColumn("vdec", col("value").cast("decimal(18,2)"))
    val q = Ingest.windowedAgg(src, "ts", "cohort", "vdec",
        "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("aggby_eq")
      .outputMode("append").start()
    val (w1, w2) = data.splitAt(data.length / 2)
    mem.addData(w1: _*)
    q.processAllAvailable()
    mem.addData(w2: _*)
    // sentinel far past the watermark so every open window closes and is
    // emitted in append mode (filtered from the comparison below)
    mem.addData(("zz", T1 + 86400L * 30, 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("aggby_eq")
      .where(col("cohort") =!= "zz")
      .select(col("cohort"),
        unix_timestamp(col("window.start")).as("bucket_start"),
        col("n"), col("sum_v").cast("double"),
        col("min_v").cast("double"), col("max_v").cast("double"))
      .collect().map(_.toSeq).toSet
    assert(got == batch,
      s"sizes ${got.size} vs ${batch.size}; " +
        s"stream-only ${(got -- batch).take(3)}; " +
        s"batch-only ${(batch -- got).take(3)}")
  }

  test("stream-maintained rollup serves exactly the raw batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val sf001 = "/root/testdata/sf0.01"
    val T0 = 1704412800L; val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf001)
    def asSamples(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_type").as("metric"),
      map(lit("cohort"), pmod(col("user_id"), lit(10)).cast("string"))
        .as("labels"),
      col("ts_s").as("ts"), col("value"))
    // batch truth over raw samples
    val expect = graft.promql.PromQL.query(
        Tsdb.attach(spark, asSamples(events)),
        "sum by (cohort) (click[1h])", T0, T1)
      .orderBy("cohort", "bucket_start").collect().map(_.toSeq).toSeq
    // stream ALL events through per-micro-batch rollup partials
    val rows = events
      .select(col("event_type"), col("user_id"), col("ts_s"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toIndexedSeq
    val mem2 = MemoryStream[(String, Long, Long, Double)]
    val src = asSamples(mem2.toDF()
      .toDF("event_type", "user_id", "ts_s", "value")
      .withColumn("ts_s", col("ts_s")))
    val t = new Tsdb(spark, graft.model.TsdbConf(
      dataPath = tempDir("rollup_stream"), segmentDuration = 86400L))
    val q = Ingest.rollupStream(t, src, tempDir("ckpt_rollup"), 3600L)
    val (w1, w2) = rows.splitAt(rows.length / 2)
    mem2.addData(w1: _*)
    q.processAllAvailable()
    mem2.addData(w2: _*)
    q.processAllAvailable()
    q.stop()
    val got = t
      .aggregateByFromRollup(3600L, "click", Seq.empty, T0, T1, Seq("cohort"))
      .orderBy("cohort", "bucket_start").collect().map(_.toSeq).toSeq
    assert(got == expect && got.nonEmpty,
      s"sizes ${got.size} vs ${expect.size}")
    // foreachBatch is at-least-once: replaying an already-committed
    // micro-batch (same batchId) must be a no-op, not a double-count
    val replay = asSamples(
      spark.createDataFrame(w1.toSeq).toDF("event_type", "user_id", "ts_s", "value"))
    t.appendRollupPartials(replay, 3600L, Some(0L))
    val afterReplay = t
      .aggregateByFromRollup(3600L, "click", Seq.empty, T0, T1, Seq("cohort"))
      .orderBy("cohort", "bucket_start").collect().map(_.toSeq).toSeq
    assert(afterReplay == expect, "replayed batch 0 double-counted")
    // the full dashboard story: a PromQL STRING served from the
    // stream-maintained downsampled tier equals the batch truth
    val viaString = graft.promql.PromQL
      .queryFromRollup(t, "sum by (cohort) (click[1h])", T0, T1, 3600L)
      .orderBy("cohort", "bucket_start").collect().map(_.toSeq).toSeq
    assert(viaString == expect, "promql-from-rollup diverged from batch")
  }

  test("stream-stream interval join equals the batch range join at sf0.01") {
    implicit val sqlCtx = spark.sqlContext
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.01")
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").cast("long").as("user_id"), col("ts_s"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").cast("long").as("user_id"),
        col("ts_s").as("pts"), col("value"))
    // batch truth: purchases within [click, click + 1h)
    val expect = graft.operators.EventOps
      .rangeJoin(clicks, purchases, "user_id", "ts_s", "pts",
        lower = 0L, upper = 3600L, rightPayload = Seq("value"))
      .select(col("user_id"), col("ts_s"), col("__rts"), col("value"))
      .collect().map(_.toSeq).toSet
    assert(expect.nonEmpty)
    val memL = MemoryStream[(Long, Long)]
    val memR = MemoryStream[(Long, Long, Double)]
    val joined = graft.streaming.StreamJoin.intervalJoin(
      memL.toDF().toDF("user_id", "ts_s")
        .withColumn("cts", timestamp_seconds(col("ts_s"))),
      memR.toDF().toDF("user_id", "pts_s", "value")
        .withColumn("pts", timestamp_seconds(col("pts_s"))),
      "user_id", "cts", "pts", lowerSec = 0L, upperSec = 3600L,
      // wider than the fixture's replay skew: the two arrival waves below
      // deliver each side out of event-time order, and rows behind the
      // watermark would be (correctly) dropped with a realistic delay
      watermark = "40 days")
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    // two arrival waves split by key parity: each pair has its two sides
    // in DIFFERENT micro-batches, so every match exercises carried join
    // state — none can be satisfied within one batch
    val cRows = clicks.collect().map(r => (r.getLong(0), r.getLong(1)))
    val pRows = purchases.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    memL.addData(cRows.filter(_._1 % 2 == 0).toIndexedSeq: _*)
    memR.addData(pRows.filter(_._1 % 2 == 1).toIndexedSeq: _*)
    q.processAllAvailable()
    memL.addData(cRows.filter(_._1 % 2 == 1).toIndexedSeq: _*)
    memR.addData(pRows.filter(_._1 % 2 == 0).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin_out")
      .select(col("user_id"), col("ts_s"), col("pts_s"), col("value"))
      .collect().map(_.toSeq).toSet
    assert(got == expect,
      s"sizes ${got.size} vs ${expect.size}; " +
        s"stream-only ${(got -- expect).take(3)}; " +
        s"batch-only ${(expect -- got).take(3)}")
  }

  test("streaming alerts: for-escalation and gap reset on a live stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.AlertStream
    val base = 1704412800L
    val mem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("metric", "labels", "ts", "value")
    val q = AlertStream.alerts(src,
        Rules.AlertRule("r", "sum by (site) (m[3600]) > 1", forSec = 7200L),
        watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("alerts_live")
      .outputMode("append").start()
    def at(h: Long) = new java.sql.Timestamp((base + h * 3600) * 1000)
    // active hours 0-3, hole at 4, active 5-6 (same grid as the batch
    // spec); the sentinel key advances the watermark without alerting
    mem.addData(Seq(0L, 1L, 2L, 3L, 5L, 6L).map(h =>
      ("m", Map("site" -> "a"), at(h), 10.0)): _*)
    q.processAllAvailable()
    mem.addData(("m", Map("site" -> "zz"), at(24 * 30), 0.0))
    q.processAllAvailable()
    mem.addData(("m", Map("site" -> "zz"), at(24 * 31), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("alerts_live")
      .select(col("labels").getItem("site").as("site"),
        col("bucket_start"), col("state"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1) - base) / 3600,
        r.getString(2))).toSet
    assert(got == Set(("a", 0L, "pending"), ("a", 1L, "pending"),
      ("a", 2L, "firing"), ("a", 3L, "firing"),
      ("a", 5L, "pending"), ("a", 6L, "pending")), got.toString)
    // unsupported expression shapes are rejected at build time, loudly
    val e = intercept[IllegalArgumentException](AlertStream.alerts(src,
      Rules.AlertRule("r", "rate(m[3600]) > 1", 0L), "10 minutes"))
    assert(e.getMessage.contains("canonical threshold shape"))
  }

  test("streaming alerts equal the batch rule on a replayed fixture") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.AlertStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    val samples = events.select(
      col("event_type").as("metric"),
      map(lit("cohort"),
        pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    val rule = Rules.AlertRule("cohort_click_high",
      "sum by (cohort) (click[3600]) > 5", forSec = 7200L)
    // batch side over the full fixture window
    val batch = Rules.alerts(Tsdb.attach(spark, samples), rule, T0, T1)
      .select(col("cohort"), col("bucket_start"), col("value"),
        col("state"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    // streaming side: replay the same rows, then close with sentinels
    val data = samples
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (r.getString(0),
        r.getMap[String, String](1).toMap,
        new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
      .toIndexedSeq
    val mem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("metric", "labels", "ts", "value")
    val q = AlertStream.alerts(src, rule, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("alerts_eq")
      .outputMode("append").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    mem.addData(("click", Map("cohort" -> "zz"),
      new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
    q.processAllAvailable()
    mem.addData(("click", Map("cohort" -> "zz"),
      new java.sql.Timestamp((T1 + 200L * 86400) * 1000), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("alerts_eq")
      .select(col("labels").getItem("cohort").as("cohort"),
        col("bucket_start"), col("value"), col("state"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"sizes ${streamed.size} vs ${batch.size}; " +
        s"stream-only ${(streamed -- batch).take(3)}; " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  test("streaming absence alerts: silent series escalate, decommission " +
      "at the horizon, unrelated traffic drives the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.AlertStream
    val base = 1704412800L
    val mem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("metric", "labels", "ts", "value")
    def at(h: Long) = new java.sql.Timestamp((base + h * 3600) * 1000)
    val rule = Rules.AlertRule("hb_lost", "absent(hb[3600]) by (site)",
      forSec = 7200L)
    val q = AlertStream.absentAlerts(src, rule, watermark = "10 minutes",
        maxAbsentSec = 5 * 3600L)
      .toDF().writeStream.format("memory").queryName("absent_live")
      .outputMode("append").start()
    // site a reports h0-2 then goes silent; site b reports h0-6 then
    // goes silent; a DIFFERENT metric carries the stream onward — the
    // watermark sits before the selector filter, so unrelated traffic
    // still closes buckets for the dead series
    mem.addData((0L to 2L).map(h => ("hb", Map("site" -> "a"), at(h), 1.0))
      ++ (0L to 6L).map(h => ("hb", Map("site" -> "b"), at(h), 1.0)): _*)
    q.processAllAvailable()
    mem.addData(("other", Map.empty[String, String], at(24 * 30), 0.0))
    q.processAllAvailable()
    mem.addData(("other", Map.empty[String, String], at(24 * 31), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("absent_live")
      .select(col("labels").getItem("site").as("site"),
        col("bucket_start"), col("value"), col("state"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1) - base) / 3600,
        r.getDouble(2), r.getString(3))).toSet
    // site a: lastData h2, horizon h2+5h=h7 → absents h3..h7, firing
    // from h5 (h5-h3 = 2h >= for); site b: lastData h6 → h7..h11
    val expect = Set(
      ("a", 3L, 1.0, "pending"), ("a", 4L, 1.0, "pending"),
      ("a", 5L, 1.0, "firing"), ("a", 6L, 1.0, "firing"),
      ("a", 7L, 1.0, "firing"),
      ("b", 7L, 1.0, "pending"), ("b", 8L, 1.0, "pending"),
      ("b", 9L, 1.0, "firing"), ("b", 10L, 1.0, "firing"),
      ("b", 11L, 1.0, "firing"))
    assert(got == expect,
      s"extra ${(got -- expect).take(4)}; missing ${(expect -- got).take(4)}")
    // the absent() rule also routes through the generic alerts() entry
    intercept[IllegalArgumentException](
      AlertStream.absentAlerts(src, Rules.AlertRule("x",
        "sum by (s) (m[3600]) > 1", 0L), "10 minutes", 3600L))
  }

  test("streaming ratio alerts equal the batch rule on a replayed fixture") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.AlertStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    val samples = events.select(
      col("event_type").as("metric"),
      map(lit("cohort"),
        pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    // the errors/requests family: purchase-to-click value ratio per
    // cohort, thresholded, with for-escalation
    val rule = Rules.AlertRule("purchase_heavy",
      "sum by (cohort) (purchase[3600]) / sum by (cohort) (click[3600])" +
        " > 0.4", forSec = 7200L)
    val batch = Rules.alerts(Tsdb.attach(spark, samples), rule, T0, T1)
      .select(col("cohort"), col("bucket_start"), col("value"),
        col("state"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(batch.nonEmpty, "fixture produced no batch ratio alerts")
    val data = samples
      .where(col("ts").between(T0, T1) &&
        col("metric").isin("purchase", "click"))
      .collect()
      .map(r => (r.getString(0),
        r.getMap[String, String](1).toMap,
        new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
      .toIndexedSeq
    val mem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("metric", "labels", "ts", "value")
    val q = AlertStream.alerts(src, rule, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("ratio_alerts_eq")
      .outputMode("append").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    mem.addData(("click", Map("cohort" -> "zz"),
      new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
    q.processAllAvailable()
    mem.addData(("click", Map("cohort" -> "zz"),
      new java.sql.Timestamp((T1 + 200L * 86400) * 1000), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ratio_alerts_eq")
      .where(col("labels").getItem("cohort") =!= "zz")
      .select(col("labels").getItem("cohort").as("cohort"),
        col("bucket_start"), col("value"), col("state"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(streamed == batch,
      s"sizes ${streamed.size} vs ${batch.size}; " +
        s"stream-only ${(streamed -- batch).take(3)}; " +
        s"batch-only ${(batch -- streamed).take(3)}")
    // NaN parity: an all-zero bucket gives 0/0 = NaN, and Spark's
    // filter orders NaN ABOVE every double (nanSafeCompare) — the
    // batch rule KEEPS that bucket under `>`, so the stream must too
    val base2 = T0
    val zeroSamples = spark.createDataFrame(
      Seq(0L, 1L, 2L).flatMap(h => Seq(
        ("a", base2 + h * 3600, 0.0), ("b", base2 + h * 3600, 0.0))))
      .toDF("metric", "ts", "value")
      .select(col("metric"), map(lit("site"), lit("x")).as("labels"),
        col("ts"), col("value"))
    val zeroRule = Rules.AlertRule("nanny",
      "sum by (site) (a[3600]) / sum by (site) (b[3600]) > 0.5",
      forSec = 0L)
    val zb = Rules.alerts(Tsdb.attach(spark, zeroSamples), zeroRule,
      base2, base2 + 3 * 3600 - 1)
      .select("bucket_start", "state").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(zb.size == 3, s"batch keeps NaN buckets: $zb") // NaN > 0.5
    val memZ = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val srcZ = memZ.toDF().toDF("metric", "labels", "ts", "value")
    val qz = AlertStream.alerts(srcZ, zeroRule, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("nan_ratio")
      .outputMode("append").start()
    memZ.addData(Seq(0L, 1L, 2L).flatMap(h => Seq(
      ("a", Map("site" -> "x"),
        new java.sql.Timestamp((base2 + h * 3600) * 1000), 0.0),
      ("b", Map("site" -> "x"),
        new java.sql.Timestamp((base2 + h * 3600) * 1000), 0.0))): _*)
    qz.processAllAvailable()
    memZ.addData(("a", Map("site" -> "zz"),
      new java.sql.Timestamp((base2 + 400L * 86400) * 1000), 0.0))
    qz.processAllAvailable()
    memZ.addData(("a", Map("site" -> "zz"),
      new java.sql.Timestamp((base2 + 500L * 86400) * 1000), 0.0))
    qz.processAllAvailable()
    qz.stop()
    val zs = spark.table("nan_ratio")
      .where(col("labels").getItem("site") === "x")
      .select("bucket_start", "state").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(zs == zb, s"stream $zs vs batch $zb")
  }

  test("streaming recording rule materializes into a TSDB, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.RecordStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    val samples = events.select(
      col("event_type").as("metric"),
      map(lit("cohort"),
        pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    val rule = Rules.RecordingRule("cohort:click:sum1h",
      "sum by (cohort) (click[3600])", Map("job" -> "rules"))
    // batch side, restricted to the replayed window
    val batch = Rules.record(Tsdb.attach(spark, samples), rule, T0, T1)
      .collect()
      .map(r => (r.getMap[String, String](1).toMap, r.getLong(2),
        r.getDouble(3))).toSet
    // streaming side: replay, close with sentinels, read back from the
    // TARGET TSDB (the full materialization loop, not just the reshape)
    val data = samples
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
        new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
      .toIndexedSeq
    val mem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("metric", "labels", "ts", "value")
      .select(col("metric"), col("labels"),
        col("ts"), col("value"))
    val target = new Tsdb(spark, TsdbConf(dataPath = tempDir("recstream")))
    val q = RecordStream.record(src, rule, target,
      tempDir("recstream_ckpt"), watermark = "10 minutes")
    mem.addData(data: _*)
    q.processAllAvailable()
    mem.addData(("click", Map("cohort" -> "0"),
      new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = target
      .queryRange("cohort:click:sum1h", Seq.empty, T0, T1)
      .collect()
      .map(r => (r.getMap[String, String](
        // normalize adds __name__ on ingest; the raw rule output has it
        // only implicitly (the metric column), so drop it for compare
        r.fieldIndex("labels")).toMap - Tsdb.MetricLabel,
        r.getLong(r.fieldIndex("ts")),
        r.getDouble(r.fieldIndex("value")))).toSet
    assert(got.nonEmpty && got == batch,
      s"sizes ${got.size} vs ${batch.size}; " +
        s"stream-only ${(got -- batch).take(3)}; " +
        s"batch-only ${(batch -- got).take(3)}")
    // an unsupported rule shape is rejected before any stream starts
    val e = intercept[IllegalArgumentException](RecordStream.compiled(src,
      Rules.RecordingRule("r:x", "rate(click[3600])"), "10 minutes"))
    assert(e.getMessage.contains("canonical moment shape"))
    // r15: quantile outers and non-divisible grids STREAM now (the
    // gcd-bucket rings); what still rejects is the pathological grid
    // whose gcd-bucket ring would balloon state — rate(m[7201]) on a
    // 3600 grid has gcd 1 ⇒ 7201 bucket sums per key > MaxInnerRing
    import graft.streaming.AlertStream
    import graft.promql.PromQL
    assert(AlertStream.subqCoreOf(PromQL.parse(
      "quantile_over_time(0.9, rate(click[3600]) by (cohort) " +
        "[21600:3600])")).exists(c => c.bw == 3600L && c.q.contains(0.9)))
    assert(AlertStream.subqCoreOf(PromQL.parse(
      "max_over_time(rate(click[5000]) by (cohort) [21600:3600])"))
      .exists(c => c.bw == 200L && c.ir == 5000L))
    val e3 = intercept[IllegalArgumentException](
      AlertStream.alerts(src,
        Rules.AlertRule("peak",
          "max_over_time(rate(click[7201]) by (cohort) " +
            "[21600:3600]) > 0.004", 0L), "10 minutes"))
    assert(e3.getMessage.contains("streaming alerts support"),
      e3.getMessage)
  }

  test("streaming RATIO recording rule equals the batch rule on a " +
      "replayed fixture (one windowed agg, side-conditional)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.RecordStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    val samples = events.select(
      col("event_type").as("metric"),
      map(lit("cohort"),
        pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    val rule = Rules.RecordingRule("cohort:purchase_click:ratio1h",
      "sum by (cohort) (purchase[3600]) / sum by (cohort) (click[3600])")
    val batch = Rules.record(Tsdb.attach(spark, samples), rule, T0, T1)
      .collect()
      .map(r => (r.getMap[String, String](1).toMap, r.getLong(2),
        r.getDouble(3))).toSet
    assert(batch.nonEmpty)
    val data = samples
      .where(col("ts").between(T0, T1) &&
        col("metric").isin("purchase", "click"))
      .collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
        new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
      .toIndexedSeq
    val mem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("metric", "labels", "ts", "value")
    val q = RecordStream.compiled(src, rule, watermark = "10 minutes")
      .writeStream.format("memory").queryName("ratio_rec_eq")
      .outputMode("append").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    mem.addData(("click", Map("cohort" -> "0"),
      new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ratio_rec_eq")
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (r.getMap[String, String](r.fieldIndex("labels")).toMap,
        r.getLong(r.fieldIndex("ts")),
        r.getDouble(r.fieldIndex("value")))).toSet
    assert(got == batch,
      s"sizes ${got.size} vs ${batch.size}; " +
        s"stream-only ${(got -- batch).take(3)}; " +
        s"batch-only ${(batch -- got).take(3)}")
  }

  test("streaming counter alerts equal the batch rate rules on a " +
      "replayed fixture (resets, NaN/Inf, decimal overflow, carry)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.AlertStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    val real = events.select(
      col("event_type").as("metric"),
      map(lit("cohort"),
        pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    // adversarial samples on cohort 3's real series (same sid): a NaN
    // and a +Inf (cast NULL drops own + next delta), a spike at the
    // decimal(18,2) ceiling (forces a giant delta then a reset), and a
    // small sample after it. Overflow BEYOND the decimal ceiling is a
    // hard error in the ANSI batch plan and pinned separately in the
    // CounterState unit test (the stream survives it as a NULL).
    val weird = Seq(
      ("click", Map("cohort" -> "3"), T0 + 3 * 3600 + 100L, Double.NaN),
      ("click", Map("cohort" -> "3"), T0 + 3 * 3600 + 200L,
        Double.PositiveInfinity),
      ("click", Map("cohort" -> "3"), T0 + 5 * 3600 + 100L, 9.999e15),
      ("click", Map("cohort" -> "3"), T0 + 5 * 3600 + 200L, 7.25)
    ).toDF("metric", "labels", "ts", "value")
    val samples = real.unionByName(weird)
    val data = samples
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
        new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
      .toIndexedSeq
    // one rule per compiled counter shape: sum (sum+rate), the moments
    // (avg+increase), and the ratio-of-rates BinOp
    val rules = Seq(
      ("cr_sum", Rules.AlertRule("cr_sum",
        "sum by (cohort) (rate(click[3600])) > 0", forSec = 7200L)),
      ("cr_avg", Rules.AlertRule("cr_avg",
        "avg by (cohort) (increase(click[3600])) > 1", forSec = 0L)),
      ("cr_ratio", Rules.AlertRule("cr_ratio",
        "sum by (cohort) (rate(click[3600])) / " +
          "sum by (cohort) (rate(view[3600])) > 0.2", forSec = 3600L)),
      // the SLO family: cross-series quantile of per-series rates
      ("cr_q", Rules.AlertRule("cr_q",
        "quantile by (cohort) (0.9, rate(click[3600])) > 0",
        forSec = 7200L)))
    rules.foreach { case (qn, rule) =>
      val batch = Rules.alerts(Tsdb.attach(spark, samples), rule, T0, T1)
        .select(col("cohort"), col("bucket_start"), col("value"),
          col("state"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSet
      val mem = MemoryStream[(String, Map[String, String],
        java.sql.Timestamp, Double)]
      val src = mem.toDF().toDF("metric", "labels", "ts", "value")
      val q = AlertStream.alerts(src, rule, watermark = "10 minutes")
        .toDF().writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData(("click", Map("cohort" -> "zz"),
        new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
      q.processAllAvailable()
      mem.addData(("click", Map("cohort" -> "zz"),
        new java.sql.Timestamp((T1 + 200L * 86400) * 1000), 0.0))
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table(qn)
        .select(col("labels").getItem("cohort").as("cohort"),
          col("bucket_start"), col("value"), col("state"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSet
      assert(streamed.nonEmpty && streamed == batch,
        s"[$qn] sizes ${streamed.size} vs ${batch.size}; " +
          s"stream-only ${(streamed -- batch).take(3)}; " +
          s"batch-only ${(batch -- streamed).take(3)}")
    }
  }

  test("streaming SUBQUERY alerts equal the batch nested-subquery rule " +
      "on a replayed heterogeneous fixture (shifted-bucket composition)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.AlertStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    val real = events.select(
      col("event_type").as("metric"),
      map(lit("cohort"),
        pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    // the counter test's adversarial samples: NaN/Inf (cast NULL drops
    // own + next delta), a decimal-ceiling spike forcing a reset, plus
    // a sample EXACTLY on the hour grid (ts % 3600 == 0 — the shifted
    // bucket convention's boundary case: it must land in the window
    // ENDING at its own timestamp)
    val weird = Seq(
      ("click", Map("cohort" -> "3"), T0 + 3 * 3600 + 100L, Double.NaN),
      ("click", Map("cohort" -> "3"), T0 + 3 * 3600 + 200L,
        Double.PositiveInfinity),
      ("click", Map("cohort" -> "3"), T0 + 5 * 3600 + 100L, 9.999e15),
      ("click", Map("cohort" -> "3"), T0 + 5 * 3600 + 200L, 7.25),
      ("click", Map("cohort" -> "4"), T0 + 8 * 3600L, 123.75)
    ).toDF("metric", "labels", "ts", "value")
    val samples = real.unionByName(weird)
    // all three outer families over both inner spellings, with a `for`;
    // each rule carries its batch scan LOOKBACK (or + ir for subquery
    // forms, ir alone for the sliding-selector form) so the replay
    // feeds EXACTLY the batch scan span [T0 − lookback + 1, T1]: fed
    // less, the stream misses the earliest windows' deltas; fed MORE,
    // the carry hands it a prev the batch lag never saw
    val rules = Seq(
      ("sq_max", 25200L, Rules.AlertRule("sq_max",
        "max_over_time(rate(click[3600]) by (cohort) " +
          "[21600:3600]) > 0.004", forSec = 7200L)),
      ("sq_avg", 25200L, Rules.AlertRule("sq_avg",
        "avg_over_time(sum by (cohort) (rate(click[3600]))" +
          "[21600:3600]) > 0.004", forSec = 0L)),
      ("sq_cnt", 28800L, Rules.AlertRule("sq_cnt",
        "count_over_time(rate(click[7200]) by (cohort) " +
          "[21600:3600]) > 4", forSec = 3600L)),
      // r14 late: the sliding-SELECTOR alert form — rate(m[ir:st]) is
      // the inner leg alone (single-entry outer window in the rings)
      ("sq_slide", 21600L, Rules.AlertRule("sq_slide",
        "rate(click[21600:3600]) by (cohort) > 0.004",
        forSec = 7200L)),
      // r15: quantile/spread/mad outers — the or/st inner-value ring is
      // the full outer window, so the exact percentile / integer-micro
      // spread / MAD are in-state compute (op order ≡ overTimeOnFrame)
      ("sq_quant", 25200L, Rules.AlertRule("sq_quant",
        "quantile_over_time(0.9, rate(click[3600]) by (cohort) " +
          "[21600:3600]) > 0.004", forSec = 3600L)),
      ("sq_sdev", 25200L, Rules.AlertRule("sq_sdev",
        "stddev_over_time(rate(click[3600]) by (cohort) " +
          "[21600:3600]) > 0.00001", forSec = 3600L)),
      ("sq_mad", 25200L, Rules.AlertRule("sq_mad",
        "mad_over_time(rate(click[3600]) by (cohort) " +
          "[21600:3600]) > 0.00001", forSec = 0L)),
      // r15: NON-DIVISIBLE inner window (3600 ∤ 5000) — the rings
      // advance by gcd(5000, 3600) = 200 s shifted buckets, evals stay
      // on the 3600 grid (state 25 bucket sums + 6 ivals per key)
      ("sq_ndiv", 26600L, Rules.AlertRule("sq_ndiv",
        "max_over_time(rate(click[5000]) by (cohort) " +
          "[21600:3600]) > 0.004", forSec = 3600L)),
      // r15: depth-2 sliding inner — rate(m[ir:ist]) resampled on the
      // outer grid (ist value-inert, ist | st), the batch subsub rule
      ("sq_subsub", 28800L, Rules.AlertRule("sq_subsub",
        "max_over_time(rate(click[7200:1800]) by (cohort) " +
          "[21600:7200]) > 0.004", forSec = 0L)))
    rules.foreach { case (qn, lookback, rule) =>
      val data = samples
        .where(col("ts").between(T0 - lookback + 1, T1))
        .collect()
        .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
          new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
        .toIndexedSeq
      val batch = Rules.alerts(Tsdb.attach(spark, samples), rule, T0, T1)
        .select(col("cohort"), col("bucket_start"), col("value"),
          col("state"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSet
      assert(batch.nonEmpty, s"[$qn] empty batch fixture")
      val mem = MemoryStream[(String, Map[String, String],
        java.sql.Timestamp, Double)]
      val src = mem.toDF().toDF("metric", "labels", "ts", "value")
      val q = AlertStream.alerts(src, rule, watermark = "10 minutes")
        .toDF().writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData(("click", Map("cohort" -> "zz"),
        new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
      q.processAllAvailable()
      mem.addData(("click", Map("cohort" -> "zz"),
        new java.sql.Timestamp((T1 + 200L * 86400) * 1000), 0.0))
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table(qn)
        .where(col("bucket_start").between(T0, T1))
        .select(col("labels").getItem("cohort").as("cohort"),
          col("bucket_start"), col("value"), col("state"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSet
      assert(streamed.nonEmpty && streamed == batch,
        s"[$qn] sizes ${streamed.size} vs ${batch.size}; " +
          s"stream-only ${(streamed -- batch).take(3)}; " +
          s"batch-only ${(batch -- streamed).take(3)}")
    }
  }

  test("streaming histogram_quantile alert equals the batch rule on a " +
      "replayed cumulative bucket-counter fixture (per-bound sides)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.AlertStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val bounds = Seq("5", "10", "25", "50", "100", "250", "+Inf")
    // cumulative classic-histogram bucket counters: one click series
    // per (user, le), value = running count of that user's
    // observations <= le (RANGE frame: ties get one value)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("user_id"), col("le"))
      .orderBy(col("ts_s"))
      .rangeBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val samples = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("user_id"), col("ts_s"),
        col("value"), explode(array(bounds.map(lit): _*)).as("le"))
      .withColumn("hit",
        when(col("le") === "+Inf", 1L)
          .otherwise(when(col("value") <= col("le").cast("double"), 1L)
            .otherwise(0L)))
      .select(col("event_type").as("metric"),
        map(lit("user_id"), col("user_id").cast("string"),
          lit("cohort"), pmod(col("user_id"), lit(10)).cast("string"),
          lit("le"), col("le")).as("labels"),
        col("ts_s").as("ts"),
        sum(col("hit")).over(w).cast("double").as("value"))
    val rule = Rules.AlertRule("slo_p90",
      "histogram_quantile(0.9, sum by (cohort, le) " +
        "(rate(click[3600]))) > 50", forSec = 3600L)
    val batch = Rules.alerts(Tsdb.attach(spark, samples), rule, T0, T1)
      .select(col("cohort"), col("bucket_start"), col("value"),
        col("state"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(batch.nonEmpty, "empty batch fixture")
    val data = samples
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
        new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
      .toIndexedSeq
    val mem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("metric", "labels", "ts", "value")
    val q = AlertStream.alerts(src, rule, watermark = "10 minutes",
        histBuckets = bounds)
      .toDF().writeStream.format("memory").queryName("histq_alert")
      .outputMode("append").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    // flush events must MATCH a side (le label present): the per-bound
    // selectors filter before the watermark node, so a non-matching
    // event would never advance the watermark and the last buckets
    // would never close
    mem.addData(("click", Map("cohort" -> "zz", "le" -> "+Inf"),
      new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
    q.processAllAvailable()
    mem.addData(("click", Map("cohort" -> "zz", "le" -> "+Inf"),
      new java.sql.Timestamp((T1 + 200L * 86400) * 1000), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("histq_alert")
      .where(col("bucket_start").between(T0, T1))
      .select(col("labels").getItem("cohort").as("cohort"),
        col("bucket_start"), col("value"), col("state"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"sizes ${streamed.size} vs ${batch.size}; " +
        s"stream-only ${(streamed -- batch).take(3)}; " +
        s"batch-only ${(batch -- streamed).take(3)}")
    // bounds are mandatory for the live form
    val e = intercept[IllegalArgumentException](
      AlertStream.alerts(src, rule, "10 minutes"))
    assert(e.getMessage.contains("histBuckets"), e.getMessage)
    // the RECORDING twin: p90 of the latency histogram as a live
    // recorded metric, row-equal to Rules.record on the same replay
    locally {
      import graft.streaming.RecordStream
      val rrule = Rules.RecordingRule("cohort:click:p90",
        "histogram_quantile(0.9, sum by (cohort, le) " +
          "(rate(click[3600])))", Map("job" -> "slo"))
      val batchR = Rules.record(Tsdb.attach(spark, samples), rrule,
          T0, T1)
        .where(col("value").isNotNull)
        .collect()
        .map(r => (r.getMap[String, String](1).toMap, r.getLong(2),
          r.getDouble(3))).toSet
      assert(batchR.nonEmpty)
      val mem2 = MemoryStream[(String, Map[String, String],
        java.sql.Timestamp, Double)]
      val src2 = mem2.toDF().toDF("metric", "labels", "ts", "value")
      val q2 = RecordStream.compiled(src2, rrule, "10 minutes",
          histBuckets = bounds)
        .writeStream.format("memory").queryName("histq_rec")
        .outputMode("append").start()
      mem2.addData(data: _*)
      q2.processAllAvailable()
      mem2.addData(("click", Map("cohort" -> "zz", "le" -> "+Inf"),
        new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
      q2.processAllAvailable()
      mem2.addData(("click", Map("cohort" -> "zz", "le" -> "+Inf"),
        new java.sql.Timestamp((T1 + 200L * 86400) * 1000), 0.0))
      q2.processAllAvailable()
      q2.stop()
      val gotR = spark.table("histq_rec")
        .where(col("ts").between(T0, T1))
        .collect()
        .map(r => (r.getMap[String, String](r.fieldIndex("labels")).toMap,
          r.getLong(r.fieldIndex("ts")),
          r.getDouble(r.fieldIndex("value")))).toSet
      assert(gotR.nonEmpty && gotR == batchR,
        s"sizes ${gotR.size} vs ${batchR.size}; " +
          s"stream-only ${(gotR -- batchR).take(3)}; " +
          s"batch-only ${(batchR -- gotR).take(3)}")
    }
  }

  test("CounterState.close: reset-adjust, cross-bucket carry, NaN and " +
      "decimal-overflow samples drop deltas, horizon purge") {
    import graft.streaming.CounterState
    import graft.streaming.CounterState.{Buf, SideAgg}
    val step = 60L
    // s1: 10 -> 25 in b0 (delta 15), carried to b1 where 5 is a reset
    // (delta = the restarted value, 5); s2: a decimal(18,2) OVERFLOW in
    // b0 (cast NULL: no delta, carry dropped), then 3 (lag NULL) and 8
    // (delta 5) in b1
    val buf = List(
      Buf(0, 0, "s1", 10, 10.0), Buf(0, 0, "s1", 20, 25.0),
      Buf(60, 0, "s1", 70, 5.0),
      Buf(0, 0, "s2", 15, 1e17),
      Buf(60, 0, "s2", 65, 3.0), Buf(60, 0, "s2", 75, 8.0))
    val (closed, open, carry) =
      CounterState.close(buf, Map.empty, nSides = 1, step, wmSec = 120)
    assert(open.isEmpty)
    val m = closed.toMap
    assert(m(0L) == Vector(Some(SideAgg(1, BigDecimal(15),
      BigDecimal(15), BigDecimal(15), List(BigDecimal(15))))),
      m(0L).toString)
    assert(m(60L) == Vector(Some(SideAgg(2, BigDecimal(10),
      BigDecimal(5), BigDecimal(5),
      List(BigDecimal(5), BigDecimal(5))))), m(60L).toString)
    assert(carry.keySet.map(_.split("\u0000")(1)) == Set("s1", "s2"))
    // NaN kills its own delta AND the next sample's (lag NULL)
    val bufN = List(
      Buf(0, 0, "s3", 5, 10.0), Buf(0, 0, "s3", 10, Double.NaN),
      Buf(0, 0, "s3", 20, 50.0), Buf(0, 0, "s3", 30, 60.0))
    val (cN, _, _) =
      CounterState.close(bufN, Map.empty, nSides = 1, step, wmSec = 60)
    assert(cN.toMap.apply(0L) == Vector(Some(SideAgg(1, BigDecimal(10),
      BigDecimal(10), BigDecimal(10), List(BigDecimal(10))))),
      cN.toString)
    // quiet carries purge once the watermark passes the horizon
    val (_, _, purged) = CounterState.close(Nil, carry, nSides = 1, step,
      wmSec = 120 + CounterState.DefaultCarryHorizonSec + 1)
    assert(purged.isEmpty, purged.toString)
  }

  test("streaming counter recording rules equal the batch rule on a " +
      "replayed fixture (rate + ratio-of-rates)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.RecordStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    val samples = events.select(
      col("event_type").as("metric"),
      map(lit("cohort"),
        pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    val data = samples
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
        new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
      .toIndexedSeq
    val rules = Seq(
      ("crr_sum", Rules.RecordingRule("cohort:click:rate1h",
        "sum by (cohort) (rate(click[3600]))", Map("job" -> "rules"))),
      ("crr_ratio", Rules.RecordingRule("cohort:click_view:rate_ratio",
        "sum by (cohort) (rate(click[3600])) / " +
          "sum by (cohort) (rate(view[3600]))")),
      ("crr_q", Rules.RecordingRule("cohort:click:rate_p90",
        "quantile by (cohort) (0.9, rate(click[3600]))")))
    rules.foreach { case (qn, rule) =>
      val batch = Rules.record(Tsdb.attach(spark, samples), rule, T0, T1)
        .collect()
        .map(r => (r.getMap[String, String](1).toMap, r.getLong(2),
          r.getDouble(3))).toSet
      val mem = MemoryStream[(String, Map[String, String],
        java.sql.Timestamp, Double)]
      val src = mem.toDF().toDF("metric", "labels", "ts", "value")
      val q = RecordStream.compiled(src, rule, watermark = "10 minutes")
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData(("click", Map("cohort" -> "zz"),
        new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
      q.processAllAvailable()
      mem.addData(("click", Map("cohort" -> "zz"),
        new java.sql.Timestamp((T1 + 200L * 86400) * 1000), 0.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(qn)
        .where(col("ts").between(T0, T1))
        .collect()
        .map(r => (r.getMap[String, String](r.fieldIndex("labels")).toMap,
          r.getLong(r.fieldIndex("ts")),
          r.getDouble(r.fieldIndex("value")))).toSet
      assert(got.nonEmpty && got == batch,
        s"[$qn] sizes ${got.size} vs ${batch.size}; " +
          s"stream-only ${(got -- batch).take(3)}; " +
          s"batch-only ${(batch -- got).take(3)}")
    }
  }

  test("streaming SUBQUERY recording rule equals the batch rule on a " +
      "replayed fixture (peak-of-rate, shifted-bucket rings)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.RecordStream
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    val samples = events.select(
      col("event_type").as("metric"),
      map(lit("cohort"),
        pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    // feed each rule the batch SCAN span [T0 - lookback + 1, T1] like
    // the subquery-alert parity test — the sliding family reads a full
    // outer+inner lookback before the grid start (ir alone for the
    // sliding-selector form)
    val rules = Seq(
      ("subq_rec_eq", 25200L,
        Rules.RecordingRule("cohort:click:peak_rate_6h",
          "max_over_time(rate(click[3600]) by (cohort) [21600:3600])",
          Map("job" -> "rules"))),
      // r15: quantile outer recording — exact percentile over the
      // or/st inner-value ring, round6 like the batch q_v
      ("subq_rec_q", 25200L,
        Rules.RecordingRule("cohort:click:p90_rate_6h",
          "quantile_over_time(0.9, rate(click[3600]) by (cohort) " +
            "[21600:3600])")),
      // r15: the sliding-SELECTOR recording form — rate(m[ir:st]) as a
      // recorded metric (single-entry outer window in the rings)
      ("subq_rec_slide", 21600L,
        Rules.RecordingRule("cohort:click:rate_6h_slide",
          "rate(click[21600:3600]) by (cohort)")))
    rules.foreach { case (qn, lookback, rule) =>
      val data = samples
        .where(col("ts").between(T0 - lookback + 1, T1))
        .collect()
        .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
          new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
        .toIndexedSeq
      val batch = Rules.record(Tsdb.attach(spark, samples), rule, T0, T1)
        .collect()
        .map(r => (r.getMap[String, String](1).toMap, r.getLong(2),
          r.getDouble(3))).toSet
      assert(batch.nonEmpty, s"[$qn] empty batch fixture")
      val mem = MemoryStream[(String, Map[String, String],
        java.sql.Timestamp, Double)]
      val src = mem.toDF().toDF("metric", "labels", "ts", "value")
      val q = RecordStream.compiled(src, rule, watermark = "10 minutes")
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData(("click", Map("cohort" -> "zz"),
        new java.sql.Timestamp((T1 + 100L * 86400) * 1000), 0.0))
      q.processAllAvailable()
      mem.addData(("click", Map("cohort" -> "zz"),
        new java.sql.Timestamp((T1 + 200L * 86400) * 1000), 0.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table(qn)
        .where(col("ts").between(T0, T1))
        .collect()
        .map(r => (r.getMap[String, String](r.fieldIndex("labels")).toMap,
          r.getLong(r.fieldIndex("ts")),
          r.getDouble(r.fieldIndex("value")))).toSet
      assert(got.nonEmpty && got == batch,
        s"[$qn] sizes ${got.size} vs ${batch.size}; " +
          s"stream-only ${(got -- batch).take(3)}; " +
          s"batch-only ${(batch -- got).take(3)}")
    }
  }

  test("without()-grouped rules: streaming alert, counter alert and " +
      "recording rule each row-equal to the batch twin on a " +
      "heterogeneous-label fixture") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.{AlertStream, RecordStream}
    val T0 = 1704412800L
    val T1 = 1705017599L
    val events = graft.sources.Tables.events(spark, sf0001)
    // heterogeneous label keys: every row carries cohort + noise, only
    // user_id % 3 == 0 rows carry shard — so `without (noise)` groups
    // some series by {cohort} and others by {cohort, shard}, the shape
    // a fixed by-list cannot express without a label-key universe.
    // Batch resolves without against the store's universe
    // ({cohort, noise, shard} minus noise) and emits a NULL shard
    // column for series lacking it; the stream groups each row by its
    // own remaining labels — identical partitions (Grouping scaladoc),
    // null-vs-absent collapsed by dropping null map values below.
    val samples = events.select(
      col("event_type").as("metric"),
      map_filter(
        map(
          lit("cohort"), pmod(col("user_id"), lit(10)).cast("string"),
          lit("noise"), pmod(col("user_id"), lit(4)).cast("string"),
          lit("shard"), when(pmod(col("user_id"), lit(3)) === 0,
            pmod(col("user_id"), lit(2)).cast("string"))),
        (_, v) => v.isNotNull).as("labels"),
      col("ts_s").as("ts"),
      col("value"))
    val data = samples
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
        new java.sql.Timestamp(r.getLong(2) * 1000), r.getDouble(3)))
      .toIndexedSeq
    def dropNulls(m: Map[String, String]): Map[String, String] =
      m.filter(_._2 != null)
    def closeAndStop(q: org.apache.spark.sql.streaming.StreamingQuery,
        mem: MemoryStream[(String, Map[String, String],
          java.sql.Timestamp, Double)]): Unit = {
      Seq(100L, 200L).foreach { d =>
        mem.addData(("click", Map("cohort" -> "zz"),
          new java.sql.Timestamp((T1 + d * 86400) * 1000), 0.0))
        q.processAllAvailable()
      }
      q.stop()
    }

    // --- canonical threshold alert, without-grouped
    val aRule = Rules.AlertRule("wo_hot",
      "sum without (noise) (click[3600]) > 5", forSec = 7200L)
    val aBatch = Rules.alerts(Tsdb.attach(spark, samples), aRule, T0, T1)
      .collect()
      .map { r =>
        val labels = Seq("cohort", "shard")
          .map(k => k -> r.getAs[String](k)).toMap
        (dropNulls(labels), r.getAs[Long]("bucket_start"),
          r.getAs[Double]("value"), r.getAs[String]("state"))
      }.toSet
    val aMem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val aq = AlertStream.alerts(
        aMem.toDF().toDF("metric", "labels", "ts", "value"),
        aRule, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("wo_alert")
      .outputMode("append").start()
    aMem.addData(data: _*)
    aq.processAllAvailable()
    closeAndStop(aq, aMem)
    val aStream = spark.table("wo_alert")
      .where(col("labels").getItem("cohort") =!= "zz")
      .collect()
      .map(r => (dropNulls(r.getMap[String, String](1).toMap),
        r.getLong(2), r.getDouble(3), r.getString(4))).toSet
    assert(aStream.nonEmpty && aStream == aBatch,
      s"[alert] sizes ${aStream.size} vs ${aBatch.size}; " +
        s"stream-only ${(aStream -- aBatch).take(3)}; " +
        s"batch-only ${(aBatch -- aStream).take(3)}")
    // the fixture is genuinely heterogeneous: both grain shapes emitted
    assert(aStream.exists(_._1.contains("shard")) &&
      aStream.exists(!_._1.contains("shard")))

    // --- counter alert (rate), without-grouped
    val cRule = Rules.AlertRule("wo_rate",
      "sum without (noise) (rate(click[3600])) > 0", forSec = 7200L)
    val cBatch = Rules.alerts(Tsdb.attach(spark, samples), cRule, T0, T1)
      .collect()
      .map { r =>
        val labels = Seq("cohort", "shard")
          .map(k => k -> r.getAs[String](k)).toMap
        (dropNulls(labels), r.getAs[Long]("bucket_start"),
          r.getAs[Double]("value"), r.getAs[String]("state"))
      }.toSet
    val cMem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val cq = AlertStream.alerts(
        cMem.toDF().toDF("metric", "labels", "ts", "value"),
        cRule, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("wo_counter")
      .outputMode("append").start()
    cMem.addData(data: _*)
    cq.processAllAvailable()
    closeAndStop(cq, cMem)
    val cStream = spark.table("wo_counter")
      .where(col("labels").getItem("cohort") =!= "zz")
      .collect()
      .map(r => (dropNulls(r.getMap[String, String](1).toMap),
        r.getLong(2), r.getDouble(3), r.getString(4))).toSet
    assert(cStream.nonEmpty && cStream == cBatch,
      s"[counter] sizes ${cStream.size} vs ${cBatch.size}; " +
        s"stream-only ${(cStream -- cBatch).take(3)}; " +
        s"batch-only ${(cBatch -- cStream).take(3)}")

    // --- recording rule, without-grouped (static label rides along)
    val rRule = Rules.RecordingRule("grain:click:sum1h",
      "sum without (noise) (click[3600])", Map("job" -> "rules"))
    val rBatch = Rules.record(Tsdb.attach(spark, samples), rRule, T0, T1)
      .collect()
      .map(r => (dropNulls(r.getMap[String, String](1).toMap),
        r.getLong(2), r.getDouble(3))).toSet
    val rMem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val rq = RecordStream.compiled(
        rMem.toDF().toDF("metric", "labels", "ts", "value"),
        rRule, watermark = "10 minutes")
      .writeStream.format("memory").queryName("wo_record")
      .outputMode("append").start()
    rMem.addData(data: _*)
    rq.processAllAvailable()
    closeAndStop(rq, rMem)
    val rStream = spark.table("wo_record")
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (dropNulls(r.getMap[String, String](1).toMap),
        r.getLong(2), r.getDouble(3))).toSet
    assert(rStream.nonEmpty && rStream == rBatch,
      s"[record] sizes ${rStream.size} vs ${rBatch.size}; " +
        s"stream-only ${(rStream -- rBatch).take(3)}; " +
        s"batch-only ${(rBatch -- rStream).take(3)}")
    assert(rStream.forall(_._1.get("job").contains("rules")))

    // --- TWO-SIDE forms, without-grouped: the vector match must pair a
    // group with itself across sides even when a resolved grouping label
    // is NULL (absent matches absent — Tsdb.nullSafeEquiJoin); the
    // stream keys both sides on the row's remaining labels, so a batch
    // side that dropped null-key groups would show up as stream-only
    // rows here.
    val vRule = Rules.AlertRule("wo_ratio",
      "sum without (noise) (click[3600]) / " +
        "sum without (noise) (view[3600]) > 0.05", forSec = 3600L)
    val vBatch = Rules.alerts(Tsdb.attach(spark, samples), vRule, T0, T1)
      .collect()
      .map { r =>
        val labels = Seq("cohort", "shard")
          .map(k => k -> r.getAs[String](k)).toMap
        (dropNulls(labels), r.getAs[Long]("bucket_start"),
          r.getAs[Double]("value"), r.getAs[String]("state"))
      }.toSet
    val vMem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val vq = AlertStream.alerts(
        vMem.toDF().toDF("metric", "labels", "ts", "value"),
        vRule, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("wo_ratio")
      .outputMode("append").start()
    vMem.addData(data: _*)
    vq.processAllAvailable()
    closeAndStop(vq, vMem)
    val vStream = spark.table("wo_ratio")
      .where(col("labels").getItem("cohort") =!= "zz")
      .collect()
      .map(r => (dropNulls(r.getMap[String, String](1).toMap),
        r.getLong(2), r.getDouble(3), r.getString(4))).toSet
    assert(vStream.nonEmpty && vStream == vBatch,
      s"[ratio] sizes ${vStream.size} vs ${vBatch.size}; " +
        s"stream-only ${(vStream -- vBatch).take(3)}; " +
        s"batch-only ${(vBatch -- vStream).take(3)}")
    // groups at BOTH grains matched across sides
    assert(vStream.exists(_._1.contains("shard")) &&
      vStream.exists(!_._1.contains("shard")))

    // ratio-of-rates recording rule, without-grouped
    val wRule = Rules.RecordingRule("grain:cv:rate_ratio",
      "sum without (noise) (rate(click[3600])) / " +
        "sum without (noise) (rate(view[3600]))")
    val wBatch = Rules.record(Tsdb.attach(spark, samples), wRule, T0, T1)
      .collect()
      .map(r => (dropNulls(r.getMap[String, String](1).toMap),
        r.getLong(2), r.getDouble(3))).toSet
    val wMem = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)]
    val wq = RecordStream.compiled(
        wMem.toDF().toDF("metric", "labels", "ts", "value"),
        wRule, watermark = "10 minutes")
      .writeStream.format("memory").queryName("wo_rate_ratio")
      .outputMode("append").start()
    wMem.addData(data: _*)
    wq.processAllAvailable()
    closeAndStop(wq, wMem)
    val wStream = spark.table("wo_rate_ratio")
      .where(col("ts").between(T0, T1))
      .collect()
      .map(r => (dropNulls(r.getMap[String, String](1).toMap),
        r.getLong(2), r.getDouble(3))).toSet
    assert(wStream.nonEmpty && wStream == wBatch,
      s"[rate_ratio] sizes ${wStream.size} vs ${wBatch.size}; " +
        s"stream-only ${(wStream -- wBatch).take(3)}; " +
        s"batch-only ${(wBatch -- wStream).take(3)}")
  }

  test("streaming gauge alerts: a sample past the decimal(18,2) ceiling " +
      "counts but adds nothing to the sum, like a non-finite one") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.AlertStream
    val base = 1704412800L
    def at(s: Long) = new java.sql.Timestamp((base + s) * 1000)
    def alertsOver(name: String, second: Double) = {
      val mem = MemoryStream[(String, Map[String, String],
        java.sql.Timestamp, Double)]
      val q = AlertStream.alerts(mem.toDF().toDF("metric", "labels", "ts",
          "value"), Rules.AlertRule("ovf", "sum by (l) (m[60]) > 0", 0L),
          watermark = "10 minutes")
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      mem.addData(("m", Map("l" -> "a"), at(0), 1.0),
        ("m", Map("l" -> "a"), at(30), second))
      q.processAllAvailable()
      Seq(1L, 2L).foreach { d =>
        mem.addData(("m", Map("l" -> "zz"), at(d * 86400), 0.0))
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).where(col("labels").getItem("l") === "a")
        .select("bucket_start", "value", "state").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    }
    val overflow = alertsOver("gauge_ovf", 1e17)
    assert(overflow == alertsOver("gauge_nan", Double.NaN), overflow)
    assert(overflow == Set((base, 1.0, "firing")), overflow)
  }

  test("streaming gauge records: a sample past the decimal(18,2) ceiling " +
      "counts but adds nothing to the sum, as in the alert twin") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.{AlertStream, RecordStream}
    val base = 1704412800L
    def at(s: Long) = new java.sql.Timestamp((base + s) * 1000)
    def valuesOf(name: String, timeCol: String)(
        build: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame) = {
      val mem = MemoryStream[(String, Map[String, String],
        java.sql.Timestamp, Double)]
      val q = build(mem.toDF().toDF("metric", "labels", "ts", "value"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      mem.addData(("m", Map("l" -> "a"), at(0), 1.0),
        ("m", Map("l" -> "a"), at(30), 1e17))
      q.processAllAvailable()
      Seq(1L, 2L).foreach { d =>
        mem.addData(("m", Map("l" -> "zz"), at(d * 86400), 0.0))
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).where(col("labels").getItem("l") === "a")
        .select(timeCol, "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    }
    val recorded = valuesOf("gauge_rec_ovf", "ts")(RecordStream.compiled(_,
      Rules.RecordingRule("ovf_sum", "sum by (l) (m[60])"),
      watermark = "10 minutes"))
    val alerted = valuesOf("gauge_alert_ovf", "bucket_start")(
      AlertStream.alerts(_, Rules.AlertRule("ovf", "sum by (l) (m[60]) > 0",
        0L), watermark = "10 minutes").toDF())
    assert(recorded == alerted, recorded)
    assert(recorded == Set((base, 1.0)), recorded)
  }

  test("one shape recognizer: a recording rule streams X iff an alert " +
      "streams X > 1") {
    implicit val sqlCtx = spark.sqlContext
    import graft.promql.Rules
    import graft.streaming.{AlertStream, RecordStream}
    val src = MemoryStream[(String, Map[String, String],
      java.sql.Timestamp, Double)].toDF().toDF("metric", "labels", "ts",
      "value")
    val hb = Seq("5", "+Inf")
    val accepted = Seq(
      "sum by (l) (m[60])",
      "avg without (l) (m[60])",
      "sum by (l) (a[60]) / sum by (l) (b[60])",
      "max by (l) (a[60]) - on (l) min by (l) (b[60])",
      "sum by (l) (rate(c[60]))",
      "quantile by (l) (0.9, rate(c[60]))",
      "sum by (l) (rate(a[60])) / sum by (l) (increase(b[60]))",
      "sum without (l) (rate(c[60]))",
      "histogram_quantile(0.9, sum by (le, l) (rate(h[60])))",
      "max_over_time(rate(c[3600]) by (l) [21600:3600])",
      "quantile_over_time(0.5, rate(c[5000]) by (l) [21600:3600])",
      "rate(c[21600:3600]) by (l)",
      "sum by (l) (rate(c[21600:3600]))")
    val rejected = Seq(
      "sum by (l) (m[60] offset 60)",
      "sum by (l) (m[120:60])",
      "sum by (l) (a[60]) / sum by (k) (b[60])",
      "sum by (l) (a[60]) / sum by (l) (b[120])",
      "sum by (l) (a[60]) / sum by (l) (rate(b[60]))",
      "sum by (l) (rate(c[60] offset 60))",
      "rate(c[60])",
      "topk(2, sum by (l) (m[60]))",
      "max_over_time(rate(c[7201]) by (l) [21600:3600])")
    def streams(build: => Any): Boolean =
      try { build; true }
      catch { case _: IllegalArgumentException => false }
    (accepted ++ rejected).foreach { x =>
      val rec = streams(RecordStream.compiled(src,
        Rules.RecordingRule("r:x", x), "10 minutes", hb))
      val alert = streams(AlertStream.alerts(src,
        Rules.AlertRule("a", s"$x > 1", 0L), "10 minutes", hb))
      assert(rec == alert, s"$x: record $rec, alert $alert")
      assert(rec == accepted.contains(x), s"$x: streams $rec")
    }
  }
}
