package graft.tools

import org.apache.spark.sql.functions._

import graft.Tsdb
import graft.model.TsdbConf

/** Storage-footprint comparison against the reference's published segment
  * sizes (BASELINE.md): one 2 h segment of 81,920 series × 121 points
  * (≈9.9 M points) stored under codec none/zstd/snappy.
  * Reference (Gorilla blocks): 28 MB / 25 MB / 26 MB.
  *
  * Grid mirrors the reference README's heavy fixture (README.md:813-871):
  * 16 metrics × 5,120 label combinations, 60 s step, integer-ish values in
  * [0, 60) — deterministic via xxhash64 instead of rand for
  * reproducibility.
  */
object CodecBench {
  def main(args: Array[String]): Unit = {
    val spark = Local.session("32", "32")
    import spark.implicits._

    val start = 1600000000L
    val metrics = (0 until 16).map(i => s"metric.$i")
    val series = spark.createDataset(
      for { m <- metrics; c <- 0 until 5120 } yield (m, c))
      .toDF("metric", "combo")
    val rows = series
      .withColumn("step", explode(sequence(lit(0), lit(120))))
      .select(
        col("metric"),
        map(
          lit("foo"), md5(concat(col("combo"), lit("f"))),
          lit("bar"), md5(concat(col("combo"), lit("b"))),
          lit("zoo"), md5(concat(col("combo"), lit("z")))).as("labels"),
        (lit(start) + col("step") * 60).as("ts"),
        pmod(xxhash64(col("combo"), col("step")), lit(60)).cast("double")
          .as("value"))

    def dirSize(p: java.io.File): Long =
      if (p.isFile) p.length
      else Option(p.listFiles).map(_.map(dirSize).sum).getOrElse(0L)

    val nPoints = rows.count()
    println(s"points: $nPoints, series: ${16 * 5120}")
    for (codec <- Seq("none", "zstd", "snappy")) {
      val path = java.nio.file.Files.createTempDirectory(s"codec_$codec")
      val t = new Tsdb(spark, TsdbConf(
        dataPath = path.toString, compression = codec))
      val t0 = System.nanoTime()
      t.insertRows(rows)
      val secs = (System.nanoTime() - t0) / 1e9
      val mb = dirSize(path.toFile) / 1024.0 / 1024.0
      println(f"codec=$codec%-7s size=${mb}%.1f MB  ingest=${secs}%.1f s  (${nPoints / secs}%.0f rows/s)")
      // the Gorilla chunk cold tier on the same store: one dod+XOR block
      // per (sid, seg) in seg-partitioned parquet — the apples-to-apples
      // comparison to the reference's Gorilla-block segments
      if (codec == "none") {
        val t1 = System.nanoTime()
        val chunkPath = t.materializeGorillaChunks()
        val packSecs = (System.nanoTime() - t1) / 1e9
        val cmb = dirSize(new java.io.File(chunkPath)) / 1024.0 / 1024.0
        println(f"gorilla-chunk tier: size=${cmb}%.1f MB " +
          f"(${cmb * 1024 * 1024 / nPoints}%.2f B/point, ref 1.37 B/point " +
          f"claim, 28 MB segment)  pack=${packSecs}%.1f s")
      }
    }
    spark.stop()
  }
}
