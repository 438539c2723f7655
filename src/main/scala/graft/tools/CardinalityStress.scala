package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tsdb
import graft.model.{LabelMatcher, TsdbConf}

/** Dev-only high-series-cardinality stress: the TSDB "cardinality bomb"
  * axis that the sf corpora never exercise (their label universe is tiny).
  * The reference's published scale point is 81,920 series per 2h segment
  * (README.md:898-907); a 100 TB metrics store means millions of LIVE
  * series, where the failure modes are (a) broadcasting an unbounded
  * series dimension, (b) driver-side label-universe collects, (c) meta
  * merge-on-read cost growing with ingest-batch count, and (d) sid hash
  * collisions silently merging series.
  *
  * Builds a store with `SPARK_GRAFT_SERIES` series (default 5M) + 10%
  * churn appends, then records:
  *  - ingest wall time (with `filesPerSegment` sub-bucketed writes vs the
  *    single-file default on a one-bucket batch);
  *  - the [[Tsdb.seriesDimSmall]] flip: the queryRange plan at this size
  *    must be a shuffle join (no broadcast), and stays CORRECT — an
  *    equality matcher returns exactly the generated points;
  *  - query latencies at real cardinality: queryRange (eq + regex
  *    matcher), querySeries, queryLabelValues (meta default vs exact);
  *  - series-meta churn: 10 appends cross the `metaCompactEvery`
  *    cadence repeatedly, so fold-bearing appends pay the inline fold
  *    (L0->L1 while L1 and L0 each stay under half the base, a base
  *    rewrite once either does not — recorded per append with the
  *    L1/base byte share); meta read latency is recorded before and
  *    after compaction;
  *  - an xxhash64 sid collision audit over the full labelset universe.
  *
  * Not part of the driver sweep — run ad hoc (SPARK_DRIVER_MEM=32g),
  * record in bench_history_r{N}.json.
  */
object CardinalityStress {
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nSeries = sys.env.get("SPARK_GRAFT_SERIES").flatMap(_.toLongOption)
      .getOrElse(5000000L)
    val spark = Local.session(Local.cpus, "64")

    val root = "spark-warehouse/graft_scale/cardinality"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)

    val T0 = 1700000000L
    val segDur = 7200L

    // one synthetic wave: `n` series with a unique host label (the
    // cardinality carrier) + low-card dc/job labels, one point per series
    // inside segment `wave`, value derivable from the id so correctness
    // checks need no oracle table
    def wave(idFrom: Long, idUntil: Long, waveNo: Int): DataFrame =
      spark.range(idFrom, idUntil).select(
        lit("click").as("metric"),
        map(
          lit("host"), concat(lit("h"), col("id")),
          lit("dc"), pmod(col("id"), lit(20)).cast("string"),
          lit("job"), concat(lit("job"), pmod(col("id"), lit(100)))
        ).as("labels"),
        (lit(T0 + waveNo * segDur) + pmod(col("id"), lit(3600))).as("ts"),
        (col("id") % 97).cast("double").as("value"))

    val r = scala.collection.mutable.LinkedHashMap[String, Any](
      "metric" -> "\"cardinality_stress\"", "series" -> nSeries)

    // ---- ingest: the full universe in one batch (single time bucket) —
    // sub-bucketed write parallelism vs the one-file-per-bucket default
    val t = new Tsdb(spark, TsdbConf(dataPath = s"$root/main",
      segmentDuration = segDur, retention = 365L * 86400,
      filesPerSegment = 32))
    val (_, ingestSec) = timed(t.insertRows(wave(0, nSeries, 0)))
    r += "ingest_sec_fps32" -> f"$ingestSec%.1f".toDouble

    val tSingle = new Tsdb(spark, TsdbConf(dataPath = s"$root/single",
      segmentDuration = segDur, retention = 365L * 86400))
    val (_, ingestSingleSec) =
      timed(tSingle.insertRows(wave(0, nSeries / 5, 0)))
    // single-file write measured at n/5 (it is the known-slow shape)
    r += "ingest_sec_fps1_fifth" -> f"$ingestSingleSec%.1f".toDouble

    // ---- churn: 10 appends of n/10 series each into segment 1 — the id
    // window [n/2, 3n/2) means half of each append re-touches existing
    // series (new minTs/maxTs per sid) and half extends the universe
    // (new sids; final dimension = 1.5n); appends crossing the
    // metaCompactEvery cadence pay the inline fold
    // per append: whether the inline fold rewrote the base, and the
    // folded level's bytes as a share of the base's after the append
    def metaDir(level: String) = new org.apache.hadoop.fs.Path(
      s"$root/main/series_meta$level")
    def metaLen(level: String): Long =
      if (fs.exists(metaDir(level)))
        fs.getContentSummary(metaDir(level)).getLength
      else 0L
    def baseFiles: Set[String] =
      fs.listStatus(metaDir("_base")).map(_.getPath.getName).toSet
    val churn = (0 until 10).map { k =>
      val from = nSeries / 2 + (nSeries / 10) * k
      val until = from + nSeries / 10
      val before = baseFiles
      val (_, s) = timed(t.insertRows(
        wave(from, until, 1).withColumn("value", col("value") + 1000.0)))
      val l1Share = metaLen("_folded").toDouble / metaLen("_base")
      (f"$s%.1f".toDouble, baseFiles != before, f"$l1Share%.3f".toDouble)
    }
    r += "churn_append_secs" -> churn.map(_._1).mkString("[", ",", "]")
    r += "churn_base_rewritten" -> churn.map(_._2).mkString("[", ",", "]")
    r += "churn_l1_per_base_bytes" -> churn.map(_._3).mkString("[", ",", "]")

    // post-churn metadata read: base + folded delta via the
    // merge-on-read split (broadcast anti/semi when the delta is small,
    // full merge when it is not — at this churn volume it is NOT small,
    // so this measures the honest full-merge read)
    val (metaCount, metaReadSec) = timed(t.seriesMeta.count())
    r += "series_meta_rows" -> metaCount
    r += "meta_read_sec_postchurn" -> f"$metaReadSec%.2f".toDouble

    // ---- sid collision audit: distinct sid must equal distinct labelset
    val (audit, auditSec) = timed {
      t.seriesMeta
        .agg(countDistinct(col("sid")).as("sids"),
          countDistinct(graft.functions.LabelFunctions
            .canonicalLabels(col("labels"))).as("labelsets"))
        .head()
    }
    r += "distinct_sids" -> audit.getLong(0)
    r += "distinct_labelsets" -> audit.getLong(1)
    r += "sid_collisions" -> (audit.getLong(1) - audit.getLong(0))
    r += "audit_sec" -> f"$auditSec%.2f".toDouble

    // ---- broadcast flip: at this dimension size the planner must NOT
    // broadcast the series dim (executor OOM at 1000 executors); a tiny
    // control store must (dimension lookups should be map-side there)
    val bigPlan = t.queryRange("click",
        Seq(LabelMatcher.eq("dc", "5")), T0, T0 + 2 * segDur)
      .queryExecution.executedPlan.toString
    val bigBroadcasts = bigPlan.contains("BroadcastHashJoin")
    val tiny = new Tsdb(spark, TsdbConf(dataPath = s"$root/tiny",
      segmentDuration = segDur))
    tiny.insertRows(wave(0, 1000, 0))
    val tinyPlan = tiny.queryRange("click",
        Seq(LabelMatcher.eq("dc", "5")), T0, T0 + 2 * segDur)
      .queryExecution.executedPlan.toString
    val tinyBroadcasts = tinyPlan.contains("BroadcastHashJoin")
    r += "big_dim_shuffle_join" -> !bigBroadcasts
    r += "tiny_dim_broadcast_join" -> tinyBroadcasts

    // ---- correctness at real size: the eq matcher returns exactly the
    // generated points for that host (1 in wave 0; churn waves where the
    // id window covered it), with the exact generated values
    val probeId = nSeries / 2 + 12345L // inside churn wave 0's window
    val expectedChurnHits = (0 until 10).count { k =>
      val from = nSeries / 2 + (nSeries / 10) * k
      probeId >= from && probeId < from + nSeries / 10
    }
    val (got, eqSec) = timed {
      t.queryRange("click", Seq(LabelMatcher.eq("host", s"h$probeId")),
        T0, T0 + 2 * segDur).collect()
    }
    val wantBase = Set(
      (T0 + probeId % 3600, (probeId % 97).toDouble))
    val wantChurn =
      if (expectedChurnHits > 0)
        Set((T0 + segDur + probeId % 3600, (probeId % 97).toDouble + 1000.0))
      else Set.empty[(Long, Double)]
    val gotSet = got.map(row =>
      (row.getLong(row.fieldIndex("ts")),
        row.getDouble(row.fieldIndex("value")))).toSet
    val eqCorrect = gotSet == (wantBase ++ wantChurn) &&
      got.length == 1 + math.min(expectedChurnHits, 1) * expectedChurnHits
    r += "eq_matcher_correct" -> eqCorrect
    r += "query_range_eq_sec" -> f"$eqSec%.2f".toDouble

    // ---- latency block at real cardinality
    val (nRe, reSec) = timed(t.queryRange("click",
      Seq(LabelMatcher.re("host", "h1234[0-9]")), T0, T0 + 2 * segDur)
      .count())
    r += "query_range_regex_rows" -> nRe
    r += "query_range_regex_sec" -> f"$reSec%.2f".toDouble
    val (nSer, serSec) = timed(
      t.querySeries(Seq(LabelMatcher.eq("dc", "5")), T0, T0 + 2 * segDur)
        .count())
    r += "query_series_rows" -> nSer
    r += "query_series_sec" -> f"$serSec%.2f".toDouble
    val (nLvMeta, lvMetaSec) = timed(
      t.queryLabelValues("dc", T0, T0 + 2 * segDur).count())
    r += "label_values_meta_rows" -> nLvMeta
    r += "label_values_meta_sec" -> f"$lvMetaSec%.2f".toDouble
    val (nLvExact, lvExactSec) = timed(
      t.queryLabelValues("job", T0, T0 + 2 * segDur, exact = true).count())
    r += "label_values_exact_rows" -> nLvExact
    r += "label_values_exact_sec" -> f"$lvExactSec%.2f".toDouble
    // high-cardinality label through the tier (one value per series —
    // the tier's worst case, still column-pruned and name-pushed-down)
    val (nLvHost, lvHostSec) = timed(
      t.queryLabelValues("host", T0, T0 + 2 * segDur).count())
    r += "label_values_host_rows" -> nLvHost
    r += "label_values_host_sec" -> f"$lvHostSec%.2f".toDouble

    // ---- explicit full consolidation (the scheduled maintenance job —
    // ingest never pays this): base ∪ delta → base, tier distinct
    val (_, compactSec) = timed(t.compactSeriesMeta())
    r += "full_compact_sec" -> f"$compactSec%.1f".toDouble
    val (_, serPostSec) = timed(
      t.querySeries(Seq(LabelMatcher.eq("dc", "5")), T0, T0 + 2 * segDur)
        .count())
    r += "query_series_sec_postcompact" -> f"$serPostSec%.2f".toDouble
    val (_, lvPostSec) = timed(
      t.queryLabelValues("dc", T0, T0 + 2 * segDur).count())
    r += "label_values_meta_sec_postcompact" -> f"$lvPostSec%.2f".toDouble

    println(r.map {
      case (k, v: String) => s"\"$k\":$v"
      case (k, v: Boolean) => s"\"$k\":$v"
      case (k, v) => s"\"$k\":$v"
    }.mkString("{", ",", "}"))
    spark.stop()
  }
}
