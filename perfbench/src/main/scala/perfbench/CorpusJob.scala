package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, TextAnalysis}

/** `corpus`: an LLM-data cleaning job over seeded shards with planted
  * exact and near duplicates, stage by stage, parquet in and parquet
  * out. `dedup` keeps the lowest id of each exact-copy group and of each
  * MinHash cluster; `annotate` scores quality and byte histograms of the
  * survivors and drops low-quality documents. */
final class CorpusJob(run: Run) extends Workload {
  import run.{spark, seed, tracer}

  private val shards = if (run.tiny) 2 else 3
  // a median that one slow job cannot set
  private val MinJobs = if (run.tiny) 1 else 3
  private val docsPerShard = if (run.tiny) 60 else 200
  private val words = 80
  private val MinQuality = 0.5

  private var docs: IndexedSeq[Seq[Doc]] = IndexedSeq.empty
  private var inputs: IndexedSeq[File] = IndexedSeq.empty

  val sizes = Map("docs_per_shard" -> docsPerShard.toLong, "shards" -> shards.toLong)

  def build(rep: Int): Unit = {
    docs = (0 until shards).map(i =>
      Corpus.shard(seed, i, docsPerShard, words, 1000000L * (i + 1)))
    inputs = docs.indices.map { i =>
      val f = run.dir(s"corpus/in$rep/shard$i")
      Corpus.frame(spark, docs(i)).write.parquet(f.getPath)
      f
    }
  }

  private def read(f: File): DataFrame = spark.read.parquet(f.getPath)

  /** Exact copies first, then MinHash clusters over what is left. */
  private def dedup(in: File, out: File): Unit = {
    val d = read(in)
    val uniq = d.join(Dedup.exact(d, "id", "text").select("id"), Seq("id"), "left_semi")
    val clusters = Dedup.minHashClusters(uniq, "id", "text", 5, 0.7)
    val losers = clusters.where(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("id"))
    uniq.join(losers, Seq("id"), "left_anti")
      .write.mode("overwrite").parquet(out.getPath)
  }

  private def annotate(in: File, out: File): Unit = {
    val d = read(in)
    TextAnalysis.qualityScore(d, "id", "text")
      .join(Multimodal.byteHistogram(d, "id", "text"), "doc_id")
      .where(col("quality") >= MinQuality)
      .write.mode("overwrite").parquet(out.getPath)
  }

  /** Each operator run on its own to the `noop` sink, for the layer
    * spans of a traced run. */
  private def operators(in: File, dedupOut: File): Unit = {
    val d = read(in)
    tracer.span("operators.exact")(run.drain(Dedup.exact(d, "id", "text")))
    val uniq = d.join(Dedup.exact(d, "id", "text").select("id"), Seq("id"), "left_semi")
    tracer.span("operators.minhash_clusters")(
      run.drain(Dedup.minHashClusters(uniq, "id", "text", 5, 0.7)))
    val s = read(dedupOut)
    tracer.span("operators.quality")(run.drain(TextAnalysis.qualityScore(s, "id", "text")))
    tracer.span("operators.byte_histogram")(
      run.drain(Multimodal.byteHistogram(s, "id", "text")))
  }

  private val jobSeconds = mutable.ArrayBuffer.empty[Double]
  private val dedupSeconds = mutable.ArrayBuffer.empty[Double]
  private val annotateSeconds = mutable.ArrayBuffer.empty[Double]
  private val annotateDocs = mutable.ArrayBuffer.empty[Long]
  private val outBytes = mutable.ArrayBuffer.empty[Long]
  private val outRows = mutable.ArrayBuffer.empty[Long]

  /** Shard `i` through both stages; checks outside the timed calls. */
  private def job(i: Long): Boolean = {
    val k = (i % shards).toInt
    val dOut = run.dir("corpus/out/dedup")
    val aOut = run.dir("corpus/out/annotate")
    def both(): (Double, Double) = (
      Stats.time(tracer.span("stage.dedup")(dedup(inputs(k), dOut)))._2,
      Stats.time(tracer.span("stage.annotate")(annotate(dOut, aOut)))._2)
    val ((dt, at), total) = run.timedPair(i)(both())
    if (tracer.on) operators(inputs(k), dOut)

    val survivors = read(dOut).select("id").collect().map(_.getLong(0)).toSet
    val kept = read(aOut).collect()
    jobSeconds += total
    dedupSeconds += dt
    annotateSeconds += at
    annotateDocs += survivors.size
    outBytes += Store.usage(dOut).bytes + Store.usage(aOut).bytes
    outRows += survivors.size + kept.length
    val hist = (0 until 16).map(b => s"h$b")
    run.check("dedup survivors", survivors == Corpus.survivors(docs(k)),
      s"${survivors.size} ids, want ${Corpus.survivors(docs(k)).size}") &&
      run.check("annotate kept", kept.map(_.getAs[Long]("doc_id")).toSet == Corpus.kept(docs(k)),
        s"${kept.length} ids, want ${Corpus.kept(docs(k)).size}") &&
      run.check("byte histogram sums", kept.forall { r: Row =>
        hist.map(h => r.getAs[Int](h).toLong).sum == r.getAs[Int]("n_chars").toLong
      })
  }

  private var jobs = 0L

  /** One untimed shard job, its outputs checked like the timed ones. */
  def warmup(): Unit = tracer.paused {
    run.op(s"warm-up shard $jobs")(job(jobs))
    jobs += 1
    Seq(jobSeconds, dedupSeconds, annotateSeconds, annotateDocs, outBytes, outRows)
      .foreach(_.clear())
  }

  /** Shards in turn until `seconds` have passed, and at least
    * [[MinJobs]]. The shards are drawn alike, so a job's time does not
    * depend on which shard it reads. */
  def timed(seconds: Double): Unit = {
    val start = System.nanoTime()
    while (jobSeconds.size < MinJobs || (System.nanoTime() - start) / 1e9 < seconds) {
      run.op(s"shard $jobs")(job(jobs))
      jobs += 1
    }
  }

  def report(): Unit = {
    val docsIn = jobSeconds.size.toDouble * docsPerShard
    run.put("op_p50_s", Stats.median(jobSeconds.toSeq), "s")
    run.put("bytes_per_item", outBytes.sum.toDouble / outRows.sum, "B")
    run.put("dedup_docs_per_s", docsIn / dedupSeconds.sum, "docs/s")
    run.put("annotate_docs_per_s", annotateDocs.sum / annotateSeconds.sum, "docs/s")
    System.err.println("perfbench: corpus job seconds " + jobSeconds.map(t => f"$t%.2f").mkString(" "))
  }
}
