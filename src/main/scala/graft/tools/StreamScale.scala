package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tsdb
import graft.model.TsdbConf
import graft.promql.Rules
import graft.streaming.{AlertStream, RecordStream}

/** Scale record for the streaming rules engine — replay a ScaleCorpus
  * fixture through [[AlertStream]] and [[RecordStream]] and print ONE
  * JSON line with sustained rows/s plus the stateful operator's
  * bounded-state readings (rows + bytes from the progress telemetry).
  *
  * The feed is a FILE-source stream (pre-staged parquet sliced by
  * maxFilesPerTrigger) — executors read micro-batches directly, like a
  * Kafka feed would deliver them; a MemoryStream harness would serialize
  * every batch through the driver and measure the harness, not the
  * operator (see IngestBench's memory-vs-file split).
  *
  * Two alert keyings are measured, because state size scales with key
  * cardinality, not stream length:
  *  - `by (cohort)`: 10 keys — the dashboard-rule shape;
  *  - `by (user_id)`: one key per user (~1.5k × copies at x10) — the
  *    per-series alert shape, the state-boundedness stress.
  *
  * Not part of the driver sweep — run ad hoc, record in
  * bench_history_r{N}.json.
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "spark-warehouse/graft_scale/sf0.1_x10")
    val cpus = Local.cpus
    val spark = Local.session(cpus, cpus)

    // stage the fixture as a file-source stream: click samples with both
    // label grains, plus one far-future sentinel row per cohort in a
    // LAST file group so the watermark closes every open bucket before
    // the query stops (the spec's sentinel idiom, made deterministic)
    val ev = graft.sources.Tables.events(spark, sfDir)
    val samples = ev.select(
      col("event_type").as("metric"),
      map(
        lit("cohort"), pmod(col("user_id"), lit(10)).cast("string"),
        lit("user_id"), col("user_id").cast("string")).as("labels"),
      to_timestamp(from_unixtime(col("ts_s"))).as("ts"),
      col("value"))
      .where(col("metric") === "click")
    val n = samples.count()
    val maxTs = samples.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val filesPerBatch = 8
    val nBatches = 5
    val stageDir = java.nio.file.Files
      .createTempDirectory("stream_scale").toString + "/files"
    samples.repartition(nBatches * filesPerBatch).write.parquet(stageDir)
    val sentinels = spark.range(10).select(
      lit("click").as("metric"),
      map(lit("cohort"), concat(lit("zz"), col("id").cast("string")),
        lit("user_id"), concat(lit("zz"), col("id").cast("string")))
        .as("labels"),
      to_timestamp(from_unixtime(lit(maxTs + 100L * 86400))).as("ts"),
      lit(0.0).as("value"))
    // two sentinel waves so the watermark (derived from the PREVIOUS
    // batch's max event time) provably passes every data bucket
    sentinels.coalesce(1).write.mode("append").parquet(stageDir + "_s1")
    spark.range(10).select(
      lit("click").as("metric"),
      map(lit("cohort"), concat(lit("zy"), col("id").cast("string")),
        lit("user_id"), concat(lit("zy"), col("id").cast("string")))
        .as("labels"),
      to_timestamp(from_unixtime(lit(maxTs + 200L * 86400))).as("ts"),
      lit(0.0).as("value"))
      .coalesce(1).write.mode("append").parquet(stageDir)
    // fold wave 1 into the main dir too (arrival order is by listing;
    // the extra waves only advance the watermark, they alert nothing)
    spark.read.parquet(stageDir + "_s1").write.mode("append")
      .parquet(stageDir)
    val schema = spark.read.parquet(stageDir).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(stageDir)

    final case class Run(
        rowsPerSec: Long, sec: Double, outRows: Long,
        stateRows: Long, stateBytes: Long, batches: Int)
    def run(build: DataFrame => DataFrame, name: String): Run = {
      val t0 = System.nanoTime()
      val q = build(src()).writeStream
        .format("noop")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(s"ss_ckpt_$name").toString)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      val outRows = progs.map(_.sink.numOutputRows).filter(_ > 0).sum
      val state = progs.flatMap(_.stateOperators.headOption)
      val stateRows = state.map(_.numRowsTotal).foldLeft(0L)(math.max)
      val stateBytes =
        state.map(_.memoryUsedBytes).foldLeft(0L)(math.max)
      q.stop()
      Run((n / sec).toLong, sec, outRows, stateRows, stateBytes,
        progs.count(_.numInputRows > 0))
    }

    val alertCohort = run(df => AlertStream.alerts(df,
      Rules.AlertRule("high", "sum by (cohort) (click[3600]) > 5",
        forSec = 7200L), watermark = "10 minutes").toDF(), "ac")
    val alertUser = run(df => AlertStream.alerts(df,
      Rules.AlertRule("high_u", "sum by (user_id) (click[3600]) > 5",
        forSec = 7200L), watermark = "10 minutes").toDF(), "au")
    // the two-metric ratio rule: both sides of the arithmetic
    // accumulate in ONE stateful operator keyed by cohort
    val alertRatio = run(df => AlertStream.alerts(df,
      Rules.AlertRule("ratio",
        "max by (cohort) (click[3600]) / avg by (cohort) (click[3600])" +
          " > 1.5", forSec = 7200L),
      watermark = "10 minutes").toDF(), "ar")
    // per-series absence: every user key emits absents after the
    // fixture's end (driven by the sentinel waves) up to a 2h horizon,
    // then decommissions — the state-drop path at key scale
    val alertAbsent = run(df => AlertStream.absentAlerts(df,
      Rules.AlertRule("hb_lost", "absent(click[3600]) by (user_id)",
        forSec = 3600L),
      watermark = "10 minutes", maxAbsentSec = 2 * 3600L).toDF(), "aa")

    // recording rule: watermarked agg reshaped to samples, appended to a
    // fresh TSDB per micro-batch (foreachBatch) — timed end to end
    val tsdb = new Tsdb(spark, TsdbConf(
      dataPath = java.nio.file.Files.createTempDirectory("ss_rec")
        .toString, compression = "zstd"))
    val tRec = System.nanoTime()
    val qr = RecordStream.record(src(),
      Rules.RecordingRule("cohort:click:sum",
        "sum by (cohort) (click[3600])"),
      tsdb,
      checkpoint = java.nio.file.Files
        .createTempDirectory("ss_rec_ckpt").toString,
      watermark = "10 minutes")
    qr.processAllAvailable()
    val recSec = (System.nanoTime() - tRec) / 1e9
    val recState = qr.recentProgress.flatMap(_.stateOperators.headOption)
    val recStateRows = recState.map(_.numRowsTotal).foldLeft(0L)(math.max)
    val recStateBytes =
      recState.map(_.memoryUsedBytes).foldLeft(0L)(math.max)
    qr.stop()
    // window capped at maxTs: the far-future sentinel cohorts' buckets
    // (watermark-closers, value 0) must not inflate the scale record
    val recRows = tsdb.queryRange("cohort:click:sum", Seq.empty,
      0L, maxTs).count()

    println(
      s"""{"metric":"stream_scale","rows":$n,"sf":"$sfDir",""" +
      s""""alert_cohort":{"rows_per_sec":${alertCohort.rowsPerSec},""" +
      s""""sec":${alertCohort.sec},"out_rows":${alertCohort.outRows},""" +
      s""""state_rows":${alertCohort.stateRows},""" +
      s""""state_bytes":${alertCohort.stateBytes},""" +
      s""""batches":${alertCohort.batches}},""" +
      s""""alert_user":{"rows_per_sec":${alertUser.rowsPerSec},""" +
      s""""sec":${alertUser.sec},"out_rows":${alertUser.outRows},""" +
      s""""state_rows":${alertUser.stateRows},""" +
      s""""state_bytes":${alertUser.stateBytes},""" +
      s""""batches":${alertUser.batches}},""" +
      s""""alert_ratio":{"rows_per_sec":${alertRatio.rowsPerSec},""" +
      s""""sec":${alertRatio.sec},"out_rows":${alertRatio.outRows},""" +
      s""""state_rows":${alertRatio.stateRows},""" +
      s""""state_bytes":${alertRatio.stateBytes},""" +
      s""""batches":${alertRatio.batches}},""" +
      s""""alert_absent":{"rows_per_sec":${alertAbsent.rowsPerSec},""" +
      s""""sec":${alertAbsent.sec},"out_rows":${alertAbsent.outRows},""" +
      s""""state_rows":${alertAbsent.stateRows},""" +
      s""""state_bytes":${alertAbsent.stateBytes},""" +
      s""""batches":${alertAbsent.batches}},""" +
      s""""record":{"rows_per_sec":${(n / recSec).toLong},""" +
      s""""sec":$recSec,"materialized_rows":$recRows,""" +
      s""""state_rows":$recStateRows,"state_bytes":$recStateBytes},""" +
      s""""config":"local[$cpus], shuffle=$cpus, file-source stream, """ +
      s"""$filesPerBatch files/trigger"}""")
    spark.stop()
  }
}
