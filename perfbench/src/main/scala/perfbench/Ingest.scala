package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.Tsdb

/** Batches appended with `Tsdb.insertRows`, each timed on its own, with
  * the store measured on disk after every batch. */
final class Ingest(run: Run, tsdb: Tsdb, store: File) {
  import run.tracer

  val seconds = mutable.ArrayBuffer.empty[Double]
  val rows = mutable.ArrayBuffer.empty[Long]
  val tiers = mutable.ArrayBuffer.empty[Map[String, Store.Usage]]

  /** Appends `batch` (already materialized or cheap to produce) of `n`
    * rows; returns the wall time of the `insertRows` call. */
  def batch(df: DataFrame, n: Long): Double = {
    if (tracer.on) tracer.span("tsdb.normalize")(run.drain(tsdb.normalize(df)))
    val (_, t) = Stats.time(tracer.span("tsdb.ingest")(tsdb.insertRows(df)))
    seconds += t
    rows += n
    tiers += Store.byTier(store)
    t
  }

  private def bytes(u: Map[String, Store.Usage], pick: String => Boolean): Long =
    u.collect { case (k, v) if pick(k) => v.bytes }.sum

  /** Store accounting per batch, from the filesystem. */
  def report(): Unit = if (tiers.nonEmpty) {
    val points = rows.sum.toDouble
    val last = tiers.last
    val files = tiers.map(t => Store.total(t).files.toDouble)
    val perBatch = files.zip(0.0 +: files).map { case (a, b) => a - b }
    System.err.println("perfbench: series-meta bytes after each batch: " +
      tiers.map(bytes(_, _.startsWith("series_meta"))).mkString(" "))
    run.put("tsdb.ingest.files_per_batch", Stats.median(perBatch.toSeq), "count")
    run.put("tsdb.ingest.fact_bytes_per_point", bytes(last, _ == "samples") / points, "B/point")
    run.put("tsdb.ingest.meta_bytes_per_point",
      bytes(last, _.startsWith("series_meta")) / points, "B/point")
    run.put("tsdb.ingest.label_values_bytes_per_point",
      bytes(last, _ == "label_values") / points, "B/point")
  }
}
