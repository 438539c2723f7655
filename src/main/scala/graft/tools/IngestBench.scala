package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.Tsdb
import graft.model.TsdbConf
import graft.sources.Tables

/** Ingest-throughput benchmark vs the reference's one hard number:
  * mandodb publishes ~400k rows/s single-node ingest (BASELINE.md:8,
  * reference README bench section). This main measures the engine's two
  * write paths at the same scale point and prints ONE JSON line:
  *
  *  - `batch_rows_per_sec`: [[Tsdb.insertRows]] of an in-memory
  *    `SPARK_GRAFT_INGEST_X`-times-replicated sf0.1 events corpus
  *    (distinct series per replica, second-jittered timestamps) into a
  *    fresh zstd store — normalize + seg-partitioned durable parquet +
  *    series-dimension upsert, end to end.
  *  - `stream_rows_per_sec`: [[graft.streaming.Ingest.ingestStream]]
  *    micro-batches (MemoryStream → foreachBatch(insertRows)) over
  *    `batches` replicas of the same corpus — the batch path plus
  *    per-commit overhead, which is what a metrics pipeline sustains.
  *
  * Config is printed alongside (local[cpus], shuffle partitions, rows),
  * so the number can sit beside the reference's with its conditions
  * stated. Not part of the driver sweep — run ad hoc, record in
  * bench_history_r{N}.json.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Local.cpus
    val factor = sys.env.getOrElse("SPARK_GRAFT_INGEST_X", "10").toInt
    val spark = Local.session(cpus, cpus)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the sample-shaped corpus, replicated with DISTINCT series per copy
    // (user_id offset) and jittered seconds — ingest cost scales in both
    // rows and series, like a real fleet growing
    val base = Tables.events(spark, sfDir)
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select(
        col("event_type").as("metric"),
        map(lit("user_id"),
          (col("user_id") + col("copy") * 150).cast("string")).as("labels"),
        (col("ts_s") + col("copy")).as("ts"),
        col("value"))
      // spread the batch across the cores like any parallel source would:
      // the sf0.1 events file reads as ONE partition, and every
      // narrow-transform stage downstream (normalize, checkpoint, head
      // union) inherits that — rounds ≤6 unknowingly measured the whole
      // ingest path on a single core (~290k rows/s single-threaded)
      .repartition(cpus.toInt)
      .localCheckpoint() // materialize: time the WRITE path, not the read
    val n = base.count()

    def freshTsdb() = new Tsdb(spark, TsdbConf(
      dataPath = java.nio.file.Files.createTempDirectory("ingest_bench")
        .toString,
      compression = "zstd", segmentDuration = 86400L))

    // batch path
    val tb = freshTsdb()
    val t0 = System.nanoTime()
    tb.insertRows(base)
    val batchSec = (System.nanoTime() - t0) / 1e9
    val batchRate = n / batchSec

    // head-buffered path — the reference's memory-segment append
    // (memory_segment.go), which is what its ~400k rows/s ingest number
    // measures: rows land in the queryable in-memory head; durability is
    // the separate flush. Timed as `factor` micro-batches of the sf0.1
    // corpus, then the flush reported on its own.
    val th = freshTsdb()
    // ten micro-batches of n/10 rows each, materialized OUTSIDE the
    // timed region — the timer measures the head append, not the
    // slicing scan; batch size (not count) is what amortizes per-job
    // overhead, so the rate reflects the corpus scale under test
    val nSlices = 10
    val slices = (0 until nSlices).map { c =>
      val s = base.where(
        pmod(xxhash64(col("labels")("user_id")), lit(nSlices)) === c)
        .localCheckpoint()
      s.count()
      s
    }
    val t2 = System.nanoTime()
    slices.foreach(th.insertHeadRows(_))
    val headSec = (System.nanoTime() - t2) / 1e9
    val headRate = n / headSec
    val t3 = System.nanoTime()
    th.flushHead()
    val flushSec = (System.nanoTime() - t3) / 1e9

    // streaming path: one micro-batch per replica of the sf0.1 corpus
    // (collected rows re-fed through a MemoryStream — the driver-side
    // feed is outside the timed foreachBatch writes)
    val batchRows = Tables.events(spark, sfDir)
      .select(col("event_type").as("metric"), col("user_id"),
        col("ts_s").as("ts"), col("value"))
      .as[(String, Long, Long, Double)].collect()
    val nb = math.min(factor, 5)
    // SPARK_GRAFT_STREAM_X replicates the corpus inside EACH micro-batch:
    // the per-commit overhead is fixed (~1.5 s), so the sustained rate is
    // a function of micro-batch size — streamX=10 shows the same pipeline
    // at 1M-row commits
    val streamX = sys.env.getOrElse("SPARK_GRAFT_STREAM_X", "1").toInt
    val mem = MemoryStream[(String, Long, Long, Double)]
    val src = mem.toDF().toDF("metric", "user_id", "ts", "value")
      .withColumn("labels", map(lit("user_id"), col("user_id").cast("string")))
      .drop("user_id")
    val ts = freshTsdb()
    val t1 = System.nanoTime()
    val q = graft.streaming.Ingest.ingestStream(ts, src,
      java.nio.file.Files.createTempDirectory("ingest_ckpt").toString,
      triggerMs = 50L)
    (0 until nb).foreach { c =>
      mem.addData((0 until streamX).iterator.flatMap(x =>
        batchRows.iterator.map { case (m, u, t, v) =>
          (m, u + (c * streamX + x) * 150L, t + c * streamX + x, v)
        }).toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamSec = (System.nanoTime() - t1) / 1e9
    val streamRows = nb.toLong * streamX * batchRows.length
    val streamRate = streamRows / streamSec

    // file-source streaming path — the distributed-feed twin of the
    // memory-stream run above. The memory path times the DRIVER
    // materializing each micro-batch (a 1M-tuple Seq built and
    // serialized single-threaded per commit) in the same region as the
    // engine's write — a real source (Kafka partitions, landing files)
    // feeds executors directly. Here the corpus is pre-written as
    // parquet file groups and readStream(maxFilesPerTrigger) slices the
    // micro-batches, so the timed region is: distributed read +
    // foreachBatch(insertRows) + commit log. A no-op pass (count-only
    // foreachBatch) over the same files separates source+harness cost
    // from the engine's per-commit write cost.
    val stageDir = java.nio.file.Files
      .createTempDirectory("ingest_stage").toString + "/files"
    // the full n-row corpus staged as nb*8 files, so 8 files/trigger =
    // n/nb rows per commit (1M at factor=50) and 16 doubles the commit
    // size against the SAME staged files — isolating per-commit overhead
    val filesPerBatch =
      sys.env.getOrElse("SPARK_GRAFT_FILES_PER_TRIGGER", "8").toInt
    base.repartition(nb * 8).write.parquet(stageDir)
    val stagedSchema = spark.read.parquet(stageDir).schema
    def fileStream() = spark.readStream
      .schema(stagedSchema)
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(stageDir)
    def runFileStream(sink: DataFrame => Unit): Double = {
      val t = System.nanoTime()
      val q = fileStream().writeStream
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("ingest_fs_ckpt").toString)
        .foreachBatch((b: DataFrame, _: Long) => sink(b))
        .start()
      q.processAllAvailable()
      q.stop()
      (System.nanoTime() - t) / 1e9
    }
    val noopSec = runFileStream(b => { b.count(); () })
    val tf = freshTsdb()
    val fileSec = runFileStream(b => tf.insertRows(b))
    val fileRate = n / fileSec
    val fileBatches = math.ceil(nb * 8.0 / filesPerBatch).toInt

    println(
      s"""{"metric":"ingest","batch_rows":$n,"batch_sec":$batchSec,""" +
      s""""batch_rows_per_sec":${batchRate.toLong},""" +
      s""""head_rows_per_sec":${headRate.toLong},"head_sec":$headSec,""" +
      s""""flush_sec":$flushSec,""" +
      s""""stream_rows":$streamRows,"stream_sec":$streamSec,""" +
      s""""stream_rows_per_sec":${streamRate.toLong},""" +
      s""""micro_batches":$nb,""" +
      s""""fstream_rows":$n,"fstream_sec":$fileSec,""" +
      s""""fstream_rows_per_sec":${fileRate.toLong},""" +
      s""""fstream_batches":$fileBatches,""" +
      s""""fstream_noop_sec":$noopSec,""" +
      s""""config":"local[$cpus], shuffle=$cpus, """ +
      s"""zstd, seg=86400s, sf=$sfDir x$factor"}""")
    spark.stop()
  }
}
