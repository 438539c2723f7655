package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.TsdbConf
import graft.operators.EventOps
import graft.sources.Tables
import graft.Tsdb

/** Dev-only scale smoke: replicate the sf0.1 events table 100× (10 M rows,
  * 15 k users) by offsetting user ids per copy — per-key density stays
  * constant, so this measures how the scale-critical plans grow with data
  * volume, not with synthetic skew. Prints per-operator wall times for the
  * 1× vs 100× corpus; near-linear growth (≤ ~100× time on 32 threads ⇒
  * fixed overheads amortized) is the acceptance signal.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = Local.session("32", "64")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    def suite(tag: String, e: DataFrame): Unit = {
      e.cache().count()
      time(s"$tag bucket_agg")(
        EventOps.tumblingAgg(e, "event_type", "ts_s", "value", 3600L).count())
      time(s"$tag sessionize")(
        EventOps.sessionize(e, "user_id", "ts_s", "event_id", "value", 1800L)
          .count())
      time(s"$tag increase")(
        EventOps.counterIncrease(e, "event_type", "ts_s", "event_id",
          "value", 3600L).count())
      time(s"$tag asof_join") {
        val clicks = e.where(col("event_type") === "click")
          .select("user_id", "event_id", "ts", "ts_s")
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("ts_s").as("p_ts_s"),
            col("value").as("p_value"))
        EventOps.asOfJoinBackward(clicks, purchases, "user_id", "ts",
          Seq("p_ts_s", "p_value")).count()
      }
      time(s"$tag range_join") {
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_s"))
        val clicks = e.where(col("event_type") === "click")
          .select(col("user_id"), col("ts_s").as("c_ts"),
            col("event_id").as("c_id"))
        EventOps.rangeJoin(purchases, clicks, "user_id", "ts_s", "c_ts",
          -3600L, 0L, Seq("c_id")).count()
      }
      time(s"$tag ingest+stats") {
        val t = new Tsdb(spark, TsdbConf(
          dataPath = java.nio.file.Files.createTempDirectory("scale").toString,
          compression = "zstd", segmentDuration = 86400L))
        t.insertRows(e.select(
          col("event_type").as("metric"),
          map(lit("user_id"), col("user_id").cast("string")).as("labels"),
          col("ts_s").as("ts"), col("value")))
        t.segmentStats.count()
      }
      e.unpersist()
    }

    // dedup scale-path comparison: the banded MinHash index vs the exact
    // set-similarity join on a 20× corpus (100k docs). The synthetic corpus
    // has a pathologically dense shingle vocabulary, which is exactly the
    // regime where the exact inverted-index join fans out quadratically and
    // LSH banding keeps candidate generation near-linear.
    val docs1 = Tables.documents(spark, "/root/testdata/sf0.1")
    time("docs 1x minhash")(graft.operators.Dedup
      .minHashPairs(docs1, "doc_id", "text", 3, 0.8).count())
    val docs20 = docs1
      .withColumn("copy", explode(sequence(lit(0), lit(19))))
      .select((col("doc_id") * 20 + col("copy")).as("doc_id"),
        concat(col("text"), lit(" zz"), col("copy")).as("text"))
    time("docs 20x minhash")(graft.operators.Dedup
      .minHashPairs(docs20, "doc_id", "text", 3, 0.8).count())

    // hot-shingle defense: one boilerplate paragraph injected into 30% of
    // docs makes every boilerplate shingle a df≈0.3·N heavy hitter, so the
    // uncapped inverted-index join's fan-out grows with N² while the
    // df-capped path drops those shingles and stays near-linear. Uncapped
    // is run at 1×/4× only (at 20× its fan-out is ~5e9 rows — the point).
    val boiler = "terms of service apply to all content on this site " +
      "all rights reserved contact the administrator for details"
    def skew(d: DataFrame): DataFrame = d.withColumn("text",
      when(pmod(col("doc_id"), lit(10)) < 3,
        concat(lit(boiler + " "), col("text"))).otherwise(col("text")))
    def rep(d: DataFrame, f: Int): DataFrame = d
      .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
      .select((col("doc_id") * f + col("copy")).as("doc_id"),
        concat(col("text"), lit(" zz"), col("copy")).as("text"))
    val sk1 = skew(docs1)
    time("skewed 1x  ngram uncapped")(graft.operators.Dedup
      .ngramJaccardPairs(sk1, "doc_id", "text", 3, 0.8).count())
    time("skewed 4x  ngram uncapped")(graft.operators.Dedup
      .ngramJaccardPairs(skew(rep(docs1, 4)), "doc_id", "text", 3, 0.8)
      .count())
    time("skewed 1x  ngram capped")(graft.operators.Dedup
      .ngramJaccardPairs(sk1, "doc_id", "text", 3, 0.8,
        maxDocFreq = Some(100L)).count())
    time("skewed 4x  ngram capped")(graft.operators.Dedup
      .ngramJaccardPairs(skew(rep(docs1, 4)), "doc_id", "text", 3, 0.8,
        maxDocFreq = Some(100L)).count())
    time("skewed 20x ngram capped")(graft.operators.Dedup
      .ngramJaccardPairs(skew(rep(docs1, 20)), "doc_id", "text", 3, 0.8,
        maxDocFreq = Some(100L)).count())

    // connected-components round complexity: on a deep planted chain the
    // star form's O(log d) rounds beat min-label's O(d) full-edge shuffles;
    // on the shallow real near-dup graph both are a handful of rounds
    {
      import spark.implicits._
      val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
        .repartition(32)
      val t0 = System.nanoTime()
      val (_, mlR) = graft.operators.Dedup.connectedComponentsRounds(chain)
      val tMl = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (_, stR) = graft.operators.Dedup.connectedComponentsStarRounds(chain)
      val tSt = (System.nanoTime() - t1) / 1e9
      println(f"chain-64 components: min-label $mlR rounds ($tMl%.1f s) " +
        f"vs star $stR rounds ($tSt%.1f s)")
    }

    val base = Tables.events(spark, "/root/testdata/sf0.1")
    suite("1x  ", base)
    val factor = 100
    val big = base
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select(
        (col("event_id") * factor + col("copy")).as("event_id"),
        // +copy ns jitter on a second-truncated epoch: ts_s is unchanged,
        // and the arithmetic is physical-type-agnostic (ts may be an
        // epoch-nanos Long or a timestamp in the source parquet)
        (col("ts_s") * 1000000000L + col("copy")).as("ts"),
        (col("user_id") + col("copy") * 150).as("user_id"),
        col("event_type"),
        col("value"),
        col("ts_s"))
    suite("100x", big)
    spark.stop()
  }
}
