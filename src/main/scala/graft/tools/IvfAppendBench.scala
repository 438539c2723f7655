package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Scale receipt for [[graft.operators.Similarity.appendToIvfIndex]]:
  * build an IVF index on the embeddings corpus at a SCRATCH path (the
  * shared bench index stays pristine), then time an incremental append
  * of B synthetic vectors vs the full-retrain alternative, prove the
  * stamped fingerprint makes the follow-up ensure a no-op, and probe one
  * appended vector back out. Prints one JSON line.
  *
  * Usage: runMain graft.tools.IvfAppendBench [sfDir] [batch=10000]
  *        [clustered] — use the Factor× clustered fixture (the 5M-vector
  *        corpus at x100, where the retrain alternative is a ~7-min
  *        k-means) instead of the shared embeddings table.
  */
object IvfAppendBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batch = args.lift(1).flatMap(_.toIntOption).getOrElse(10000)
    val clustered = args.lift(2).contains("clustered")
    val spark = Local.session("32", "32")
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val emb = (if (clustered) graft.sources.ClusteredEmbeddings.ensure(
        spark, dir)
      else graft.sources.Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    val (agg, _) = timed(emb.agg(count(lit(1)), max(col("vec_id")),
      max(size(col("embedding")))).head())
    val n = agg.getLong(0); val maxId = agg.getLong(1)
    val dim = agg.getInt(2)
    val k = math.min(4096L, math.max(16L, n / 2048L)).toInt // autoClusters
    val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"spark-warehouse/graft_scratch/ivf_append_${tag}_c$k"
    // full k-means build — this IS the retrain cost the append avoids
    val (_, tBuild) = timed(
      Similarity.ensureIvfIndex(emb, "vec_id", "embedding", k, path))
    // deterministic synthetic batch on fresh ids (xxhash-derived
    // uniform[-1,1]^dim, the ScaleCorpus recipe)
    def u(h: org.apache.spark.sql.Column) =
      pmod(h, lit(1 << 20)).cast("double") / lit((1 << 20).toDouble)
    val fresh = spark.range(batch)
      .select((col("id") + maxId + 1L).as("vec_id"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (u(xxhash64(lit("apnd"), col("vec_id"), i)) * 2 - 1)
            .cast("float")))
    val full = emb.unionByName(fresh)
    val (_, tAppend) = timed(
      Similarity.appendToIvfIndex(full, fresh, "vec_id", "embedding", path))
    // the stamped fingerprint must make ensure a no-op (content-scan
    // tier: the union frame has no stable input files)
    val (_, tEnsure) = timed(
      Similarity.ensureIvfIndex(full, "vec_id", "embedding", k, path))
    // probe one appended vector back out via a clone query with a fresh
    // id (so the self-exclusion doesn't hide it). nProbe=8: the probe
    // ranks centroids by COSINE while assignment (k-means geometry) is
    // euclidean, and this synthetic batch is uniform — adversarially
    // cross-cluster — so the assigned cell may not be among the top few
    // cosine-ranked cells (the same recall trade any indexed uniform
    // vector has; natural appends drawn from the corpus distribution
    // rank far better, and the recall gates bound the realistic case).
    val probeVec = fresh.limit(1).select(col("vec_id"), col("embedding"))
      .head()
    val q = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        -1L, probeVec.getSeq[Float](1))),
      fresh.schema)
    val hit = Similarity
      .ivfProbeTopK(spark, path, q, "vec_id", "embedding", 1, nProbe = 8)
      .select("nid", "sim").head()
    val served = hit.getLong(0) == probeVec.getLong(0) &&
      hit.getDouble(1) >= 0.999999
    println(s"""{"tool":"ivf_append","dir":"$dir","n":$n,"dim":$dim,""" +
      s""""k":$k,"batch":$batch,"build_sec":${f"$tBuild%.2f"},""" +
      s""""append_sec":${f"$tAppend%.2f"},""" +
      s""""ensure_noop_sec":${f"$tEnsure%.2f"},""" +
      s""""speedup":${f"${tBuild / tAppend}%.1f"},"served":$served}""")
    spark.stop()
    if (!served) sys.exit(1)
  }
}
