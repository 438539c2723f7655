package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Dev-only ANN parameter sweep: recall@5 vs brute force for the LSH and
  * IVF indexes across their parameter grids, at sf0.01 — the tuning
  * harness flagged in SURVEY §8.3. Prints a markdown table.
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val spark = Local.session("32", "32")
    val dir = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, dir).cache()
    val q = emb.where(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }

    println("| index | params | recall@5 |")
    println("|---|---|---|")
    for {
      planes <- Seq(8, 16, 24)
      bands <- Seq(4, 8) if planes % bands == 0
    } {
      val r = recall(Similarity.lshTopK(emb, q, "vec_id", "embedding", 5,
        nPlanes = planes, bands = bands))
      println(f"| LSH | planes=$planes bands=$bands | $r%.2f |")
    }
    for {
      cells <- Seq(8, 16, 32)
      probe <- Seq(2, 4, 8) if probe < cells
    } {
      val r = recall(Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5,
        nClusters = cells, nProbe = probe))
      println(f"| IVF | cells=$cells probe=$probe | $r%.2f |")
    }
    // multiprobe sweep with wall time + candidate fraction (selectivity)
    val nCorpus = emb.count()
    val nQ = q.count()
    println("| index | params | recall@5 | time(s) | cand frac |")
    println("|---|---|---|---|---|")
    for {
      planes <- Seq(24, 32, 48)
      bands <- Seq(3, 4, 6) if planes % bands == 0
      pb <- Seq(2, 3, 4)
    } {
      val t0 = System.nanoTime()
      val rec = recall(Similarity.multiprobeTopK(emb, q, "vec_id",
        "embedding", 5, nPlanes = planes, bands = bands, probeBits = pb))
      val secs = (System.nanoTime() - t0) / 1e9
      // re-derive the candidate count (pre-rank) for selectivity
      val frac = Similarity.multiprobeCandidates(emb, q, "vec_id",
        "embedding", nPlanes = planes, bands = bands, probeBits = pb)
        .count().toDouble / (nCorpus * nQ)
      println(f"| MP-LSH | planes=$planes bands=$bands probe=$pb " +
        f"| $rec%.2f | $secs%.1f | $frac%.3f |")
    }
    spark.stop()
  }
}
