package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.promql.Rules
import graft.streaming.AlertStream

/** Dev-only state-store scale point for the streaming rule engine: the
  * alert/recording state math is bounded PER KEY (one bucket buffer +
  * one carry per live labelset), but the default HDFS-backed state store
  * keeps ALL keys on-heap — at ~1M live labelsets that, not the math, is
  * the 100 TB failure mode. This runs the canonical per-series alert
  * (`sum by (user_id) (click[3600]) > 5`, forSec escalation) over a
  * synthetic corpus with `SPARK_GRAFT_KEYS` distinct keys (default 1M)
  * twice — default HDFSBackedStateStoreProvider vs RocksDB — and prints
  * one JSON line with, per provider: wall time, sustained rows/s, max
  * state rows, the store's reported memory, a post-GC JVM heap snapshot,
  * and a full output hash. The two outputs must hash-identical — the
  * provider swap may not change a single row — and heap must stay
  * bounded under RocksDB (state lives off-heap/on-disk there).
  *
  * Not part of the driver sweep — run ad hoc (SPARK_DRIVER_MEM=32g),
  * record in bench_history_r{N}.json.
  */
object StateScale {
  def main(args: Array[String]): Unit = {
    val nKeys = sys.env.get("SPARK_GRAFT_KEYS").flatMap(_.toLongOption)
      .getOrElse(1000000L)
    val cpus = Local.cpus
    val spark = Local.session(cpus, cpus)

    // ---- fixture: nKeys label sets × 6 points across two hour buckets,
    // values sized so roughly half the keys cross the threshold in
    // bucket 0 and stay across bucket 1 (both state transitions hit).
    // Staged as a file-source stream (maxFilesPerTrigger) — executors
    // read micro-batches directly; a MemoryStream would time the driver.
    val T0 = 1700000000L
    val rows = spark.range(nKeys * 6).select(
      lit("click").as("metric"),
      map(lit("user_id"), concat(lit("u"), pmod(col("id"), lit(nKeys))))
        .as("labels"),
      to_timestamp(from_unixtime(
        lit(T0) + (col("id") / lit(nKeys)).cast("long") * 1200 +
          pmod(col("id"), lit(997)))).as("ts"),
      ((pmod(col("id"), lit(2)) * 2).cast("double") + lit(0.6)).as("value"))
    val n = rows.count()
    val filesPerBatch = 8
    val stageDir = java.nio.file.Files
      .createTempDirectory("state_scale").toString + "/files"
    rows.repartition(5 * filesPerBatch).write.parquet(stageDir)
    // two far-future sentinel waves close every data bucket (watermark
    // derives from the PREVIOUS batch's max event time)
    Seq(100L, 200L).foreach { d =>
      spark.range(4).select(
        lit("click").as("metric"),
        map(lit("user_id"), concat(lit("zz"), lit(d), col("id")))
          .as("labels"),
        to_timestamp(from_unixtime(lit(T0 + d * 86400))).as("ts"),
        lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(stageDir)
    }
    val schema = spark.read.parquet(stageDir).schema

    val rule = Rules.AlertRule("hot_user",
      "sum by (user_id) (click[3600]) > 5", forSec = 3600L)

    def heapUsed(): Long = {
      System.gc(); Thread.sleep(300); System.gc()
      val rt = Runtime.getRuntime
      rt.totalMemory() - rt.freeMemory()
    }

    final case class Run(
        sec: Double, outRows: Long, outHash: Long, stateRows: Long,
        storeBytes: Long, heapAfter: Long)
    def run(provider: String, tag: String): Run = {
      spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", provider)
      val out = java.nio.file.Files
        .createTempDirectory(s"state_scale_out_$tag").toString
      val t0 = System.nanoTime()
      val q = AlertStream.alerts(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", filesPerBatch)
            .parquet(stageDir),
          rule, watermark = "10 minutes")
        .toDF()
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(s"state_scale_ckpt_$tag").toString)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      val state = q.recentProgress.flatMap(_.stateOperators.headOption)
      val stateRows = state.map(_.numRowsTotal).foldLeft(0L)(math.max)
      val storeBytes = state.map(_.memoryUsedBytes).foldLeft(0L)(math.max)
      q.stop()
      val res = spark.read.parquet(out)
        .where(!col("labels").getItem("user_id").startsWith("zz"))
      // bit_xor, not sum: an order-free combine that cannot overflow
      // under ANSI arithmetic at millions of evaluation rows
      val h = res.select(xxhash64(to_json(struct(
          col("alertname"), col("labels"), col("bucket_start"),
          col("value"), col("state")))).as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1))).head()
      Run(sec, h.getLong(1), h.getLong(0), stateRows, storeBytes,
        heapUsed())
    }

    val hdfs = run("org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider", "hdfs")
    val rocks = run("org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider", "rocks")

    def block(r: Run): String =
      s"""{"sec":${f"${r.sec}%.1f"},"rows_per_sec":${(n / r.sec).toLong},""" +
      s""""out_rows":${r.outRows},"out_hash":${r.outHash},""" +
      s""""state_rows":${r.stateRows},"store_bytes":${r.storeBytes},""" +
      s""""heap_after_gc_mb":${r.heapAfter / (1024 * 1024)}}"""
    println(
      s"""{"metric":"state_scale","keys":$nKeys,"rows":$n,""" +
      s""""hdfs":${block(hdfs)},"rocksdb":${block(rocks)},""" +
      s""""outputs_identical":${hdfs.outHash == rocks.outHash &&
        hdfs.outRows == rocks.outRows},""" +
      s""""config":"local[$cpus], $filesPerBatch files/trigger"}""")
    spark.stop()
  }
}
