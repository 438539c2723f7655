package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize an FK-consistent N× replication of a shared testdata dir so
  * the FULL registered query set can run at a scale point where shuffles
  * dominate (round-3 requirement: a ≥10× row-count bench entry).
  *
  * Replication scheme (factor F, copies c = 0..F-1):
  *   - dims (`region nation customer supplier part`): copied as-is — the
  *     realistic shape (facts grow much faster than dims) and it keeps
  *     every dim join broadcast-able, exactly as at 100 TB.
  *   - `orders`/`lineitem`: orderkey → orderkey·F + c on BOTH tables, all
  *     other columns kept — each copy is a full new order with its own
  *     lineitems, so order⋈lineitem density and dim FKs are preserved.
  *   - `events`: event_id → id·F + c, user_id offset by c·2^20 (disjoint
  *     users per copy ⇒ per-series/per-user density constant — volume
  *     scales, skew doesn't), ts jittered +c ns. `ts` is written as
  *     epoch-nanos BIGINT (what `Tables.events` reads it as post-conf).
  *   - `documents`: doc_id → id·F + c; copies > 0 get a deterministic
  *     pseudo-random token suffix ~25% of the doc's word count, pushing
  *     cross-copy 3-gram Jaccard to ≈ 1/1.5 ≈ 0.67 < the 0.8 dedup
  *     threshold — so near-dup CLUSTERS keep their 1× size and the
  *     Jaccard-family joins measure volume growth, not a synthetic
  *     every-doc-is-a-dup-cluster blowup.
  *   - `embeddings`: vec_id → id·F + c; copies > 0 get fresh deterministic
  *     uniform[-1,1]^d vectors (xxhash64-derived) — cross-copy cosine
  *     concentrates near 0 (σ ≈ 1/√d), far under the 0.45 near-dup
  *     threshold, so the all-pairs baseline measures O(n²) compare cost
  *     without an output explosion.
  *
  * Output layout mirrors `/root/testdata/sf*` (`<out>/<name>.parquet`), so
  * `Bench`/`SparkEntry.queries` run unchanged via `SPARK_GRAFT_SF_DIR`.
  * Deterministic (pure hash math, no RNG); written once, gitignored.
  *
  * Usage: runMain graft.tools.ScaleCorpus [factor=10] [srcDir=sf0.1]
  */
object ScaleCorpus {

  /** explode a copy index 0..f-1 onto each row */
  private def copies(df: DataFrame, f: Int): DataFrame =
    df.withColumn("copy", explode(sequence(lit(0), lit(f - 1))))

  private def u01(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(h, lit(1 << 20)).cast("double") / lit((1 << 20).toDouble)

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val tag = new java.io.File(src).getName
    val out = s"spark-warehouse/graft_scale/${tag}_x$factor"

    val spark = Local.session("32", "64")

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"wrote $name x$factor")
    }

    // dims unchanged
    Seq("region", "nation", "customer", "supplier", "part").foreach { d =>
      write(d, read(d), 1)
    }

    write("orders", copies(read("orders"), factor)
      .withColumn("o_orderkey", col("o_orderkey") * factor + col("copy"))
      .drop("copy"), 16)

    write("lineitem", copies(read("lineitem"), factor)
      .withColumn("l_orderkey", col("l_orderkey") * factor + col("copy"))
      .drop("copy"), 32)

    write("events", copies(graft.sources.Tables.events(spark, src), factor)
      .select(
        (col("event_id") * factor + col("copy")).as("event_id"),
        // +copy ns jitter on a second-truncated epoch-nanos BIGINT —
        // ts_s is unchanged and the write is physical-type-agnostic
        // (the source ts may be an epoch-nanos Long or a timestamp)
        (col("ts_s") * 1000000000L + col("copy")).as("ts"),
        (col("user_id") + col("copy") * (1L << 20)).as("user_id"),
        col("event_type"), col("value"), col("props")), 32)

    // documents: suffix of ~25% pseudo-random tokens for copies > 0
    val doc = copies(read("documents"), factor)
      .withColumn("nw", size(split(col("text"), " ")))
      .withColumn("text",
        when(col("copy") === 0, col("text")).otherwise(concat(
          col("text"), lit(" "),
          concat_ws(" ", transform(
            sequence(lit(0), greatest((col("nw") / 4).cast("int"), lit(2))),
            i => concat(lit("zq"),
              conv(pmod(xxhash64(col("doc_id"), col("copy"), i),
                lit(1L << 40)).cast("string"), 10, 36)))))))
      .select(
        (col("doc_id") * factor + col("copy")).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    write("documents", doc, 16)

    // embeddings: fresh deterministic vectors for copies > 0
    val dim = read("embeddings").select(size(col("embedding")))
      .first().getInt(0)
    val emb = copies(read("embeddings"), factor)
      .select(
        (col("vec_id") * factor + col("copy")).as("vec_id"),
        when(col("copy") === 0, col("embedding")).otherwise(
          transform(sequence(lit(0), lit(dim - 1)), i =>
            (u01(xxhash64(lit("sc"), col("vec_id"), col("copy"), i)) * 2 - 1)
              .cast("float"))).as("embedding"),
        col("label"))
    write("embeddings", emb, 8)

    println(s"""{"scaled_dir":"$out","factor":$factor,"src":"$src"}""")
    spark.stop()
  }
}
