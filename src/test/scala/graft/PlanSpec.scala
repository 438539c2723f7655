package graft

import org.apache.spark.sql.functions._

import graft.model.{LabelMatcher, TsdbConf}
import graft.operators.Similarity
import graft.sources.Tables

/** Plan-shape regression gates: the scale-critical physical-plan
  * properties (partition pruning, predicate pushdown, broadcast vs
  * shuffle choices, map-side native expressions, bounded shuffle counts)
  * are asserted here so a refactor that silently loses one fails CI.
  * `graft.tools.DumpPlans` writes the full formatted plans for a diff.
  */
class PlanSpec extends SparkSuite {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("disk queryRange prunes seg partitions and pushes ts to parquet") {
    val t = new Tsdb(spark, TsdbConf(dataPath = tempDir("planspec")))
    t.insertRows(Tables.events(spark, sf0001).select(
      col("event_type").as("metric"),
      map(lit("user_id"), col("user_id").cast("string")).as("labels"),
      col("ts_s").as("ts"), col("value")))
    val plan = planOf(t.queryRange("click",
      Seq(LabelMatcher.eq("user_id", "7")), 1704412800L, 1704419999L))
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert("PartitionFilters: \\[[^\\]]*seg".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts,1704412800)"), plan.take(2000))
    // matcher evaluation runs on the broadcast series dimension, never the fact scan
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("head-and-disk union view still prunes disk partitions") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("planspec_head"), segmentDuration = 7200L))
    def rows(from: Int, until: Int) = (from until until).map(i =>
      ("m", Map("k" -> "v"), 1600000000L + i * 60L, 1.0))
      .toDF("metric", "labels", "ts", "value")
    t.insertRows(rows(0, 120))
    t.insertHeadRows(rows(120, 240))
    val plan = planOf(t.queryRange("m", Seq.empty,
      1600000000L, 1600000000L + 60 * 60))
    // filters push through the Union into the parquet branch: the disk
    // side keeps seg partition pruning and ts pushdown with a live head
    assert(plan.contains("PartitionFilters"), plan.take(3000))
    assert("PartitionFilters: \\[[^\\]]*seg".r.findFirstIn(plan).isDefined,
      plan.take(3000))
    assert(plan.contains("Union"), plan.take(3000))
  }

  test("series dim above the broadcast threshold gets a shuffle join") {
    import spark.implicits._
    // a disk store whose series_meta bytes (x4 safety factor) exceed a
    // deliberately tiny broadcast threshold must NOT hint broadcast —
    // the TSDB cardinality bomb (series count growing with data volume)
    // would otherwise OOM an executor at fleet scale. The semi-join
    // shape survives; only the exchange strategy changes.
    val t = new Tsdb(spark, TsdbConf(dataPath = tempDir("planspec_bigdim")))
    t.insertRows((0 until 500).map(i =>
      ("m", Map("u" -> i.toString), 1600000000L + i * 60L, 1.0))
      .toDF("metric", "labels", "ts", "value"))
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "1KB",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = t.queryRange("m", Seq(LabelMatcher.eq("u", "7")),
        1600000000L, 1700000000L)
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(3000))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(3000))
      // results are identical to the direct-predicate (no-join) path
      val direct = t.queryRange("m", Seq(LabelMatcher.eq("u", "7")),
        1600000000L, 1700000000L, useSeriesIndex = false)
      assert(df.orderBy("ts").collect().toSeq ==
        direct.orderBy("ts").collect().toSeq)
    }
  }

  test("bloom decontamination: map-side prefilter, no benchmark broadcast") {
    val df = SparkEntry.queries("text_decontam_bloom")(spark, sf0001)
    val plan = planOf(df)
    // the prefilter is the native probe fused into the corpus scan stage…
    assert(plan.contains("graft_bloom_any"), plan.take(3000))
    // …and the exact verify join shuffles BOTH sides — the benchmark is
    // never a broadcast (the whole point: it may exceed broadcast size)
    assert(!plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
  }

  test("GRFT16 decode runs inside WholeStageCodegen, no object boundary") {
    // the vectorized-decode claim, as a plan property: every header field
    // read is the native codegen'd expression fused into the scan's
    // WholeStageCodegen span (the `*(n)` stage markers) — no UDF, no
    // mapPartitions object hop (the Scala-side equivalent of PySpark's
    // mapInArrow, minus the Arrow conversion at the edges). AQE off so
    // the stage markers are visible pre-execution.
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val df = SparkEntry.queries("multimodal_header_decode")(spark, sf0001)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_media_field"), plan.take(3000))
      // encode+decode projections both carry the codegen star
      assert("\\*\\(\\d+\\) Project.*graft_media_field".r
        .findFirstIn(plan.replaceAll("\n", " ")).isDefined, plan.take(3000))
      assert(!plan.contains("SerializeFromObject"), plan.take(3000))
      assert(!plan.contains("MapPartitions"), plan.take(3000))
    }
  }

  test("q5 joins broadcast the small dimensions") {
    val plan = planOf(SparkEntry.queries("q5_region_revenue")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      plan.take(3000))
  }

  test("minhash: native scan-stage signatures, materialize-once pipeline") {
    // signatures are computed by the native expression in the scan stage
    // (no explode+groupBy shuffle to assemble them) — asserted at the
    // operator level because the full query now localCheckpoints the
    // signature pass (r15: the lazy plan re-ran it 20× over 44 scans)
    val sigPlan = planOf(graft.operators.Dedup.minHashSignatures(
      graft.operators.Dedup.shingleSets(
        graft.sources.Tables.documents(spark, sf0001), "doc_id", "text", 3),
      128))
    assert(sigPlan.contains("graft_minhash_sig"), sigPlan.take(3000))
    assert(!sigPlan.contains("Exchange hashpartitioning"), sigPlan.take(3000))
    // the final verification plan consumes only the checkpointed
    // (candidate-reduced, semi-joined) relations: a corpus re-scan here
    // would mean the shared subtrees are being recomputed per reference
    // again (the r15 finding), and any corpus-dimension broadcast would
    // have to be fed by one
    val plan = planOf(SparkEntry.queries("dedup_minhash_lsh")(spark, sf0001))
    assert(!plan.contains("Scan parquet"), plan.take(3000))
  }

  test("multiprobe LSH plan is map-side up to one aggregation shuffle") {
    val plan = planOf(SparkEntry.queries("ann_topk_lsh")(spark, sf0001))
    assert(plan.contains("graft_plane_proj"), plan.take(3000))
    assert(plan.contains("graft_probe_buckets"), plan.take(3000))
    // exactly ONE hash-partitioned exchange: the bounded top-k aggregation
    // (the orderBy adds a range exchange; the query side broadcasts)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
  }

  test("IVF probe plan prunes cell partitions, broadcasts probes, one shuffle") {
    val plan = planOf(SparkEntry.queries("ann_topk_ivf")(spark, sf0001))
    // the cells store is read pruned to the probed cells only (cell is the
    // index's partition column) …
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      plan.take(3000))
    // … the probe set joins map-side (broadcast), never shuffling the corpus …
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // … and no k-means / training stage appears anywhere in the query plan
    assert(!plan.contains("KMeans"), plan.take(3000))
    // the corpus-side scan feeds the broadcast join directly — no exchange
    // between the cells FileScan and the join (tree prints parent first, so
    // the text between the join and its scan child must be exchange-free)
    val joinAt = plan.indexOf("BroadcastHashJoin")
    val scanAt = plan.indexOf("FileScan parquet [nid")
    assert(joinAt >= 0 && scanAt > joinAt, plan.take(3000))
    assert(!plan.substring(joinAt, scanAt).contains("Exchange"),
      plan.substring(joinAt, scanAt))
    // hash exchanges: the bounded top-k aggregation plus (at most) the two
    // probe-side window exchanges over the tiny queries × centroids relation
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 3, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
  }

  test("tsdb_agg_by is scan -> project -> ONE aggregation shuffle") {
    val plan = planOf(SparkEntry.queries("tsdb_agg_by")(spark, sf0001))
    // label extraction + bucketing are map-side; cross-series aggregation
    // is the single hash exchange (orderBy adds a range exchange)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
    assert(plan.contains("partial_count") || plan.contains("partial_sum") ||
      plan.contains("HashAggregate"), plan.take(3000))
  }

  test("counter family: each shape keeps its hash-exchange count") {
    // the per-series counter stage groups on the lag window's sid
    // partitioning, so it adds no exchange: one for the window, one for
    // the cross-series aggregation, plus each shape's own consumers
    val pinned = Seq(
      "tsdb_agg_increase" -> 2,
      "tsdb_promql_rate" -> 2,
      "tsdb_promql_topk_rate" -> 3,
      "tsdb_promql_quantile_rate" -> 2,
      "tsdb_promql_avg_rate" -> 2,
      "tsdb_promql_histq_rate" -> 3,
      "tsdb_promql_subquery_rate" -> 3)
    val got = pinned.map { case (name, _) =>
      name -> "Exchange hashpartitioning".r
        .findAllIn(planOf(SparkEntry.queries(name)(spark, sf0001))).length
    }
    assert(got == pinned, got.mkString("\n"))
  }

  test("gauge family: each shape keeps its hash-exchange count") {
    // one exchange for the cross-series (or per-series) aggregation; the
    // rank forms add the bucket-partitioned row_number and the subquery
    // its outer window (tsdb_delta is the EventOps bucket-lag form)
    val pinned = Seq(
      "tsdb_agg_by" -> 1,
      "tsdb_offset" -> 1,
      "tsdb_topk" -> 2,
      "tsdb_bottomk" -> 2,
      "tsdb_limitk" -> 2,
      "tsdb_limit_ratio" -> 1,
      "tsdb_quantile_over_time" -> 1,
      "tsdb_promql_mad" -> 1,
      "tsdb_stddev" -> 1,
      "tsdb_over_time" -> 1,
      "tsdb_ts_of" -> 1,
      "tsdb_promql_stdvar_over_time" -> 1,
      "tsdb_promql_present_over_time" -> 1,
      "tsdb_delta" -> 2,
      "tsdb_promql_delta" -> 1,
      "tsdb_promql_subquery_delta" -> 1,
      "tsdb_promql_group" -> 1,
      "tsdb_promql_label_replace" -> 1,
      "tsdb_promql_subquery_gauge" -> 2,
      "tsdb_count_values" -> 1)
    val got = pinned.map { case (name, _) =>
      name -> "Exchange hashpartitioning".r
        .findAllIn(planOf(SparkEntry.queries(name)(spark, sf0001))).length
    }
    assert(got == pinned, got.mkString("\n"))
  }

  test("vector matching: each shape keeps its hash-exchange count") {
    // the match joins two group-sized sides on (match labels, t) and
    // reuses their partitioning, so each shape counts its sides' own
    // exchanges (one per raw gauge side, two per counter or
    // rollup-served side) plus the carried-label guard window and the
    // subquery outer window
    val pinned = Seq(
      "tsdb_ratio" -> 2,
      "tsdb_ratio_rollup" -> 4,
      "tsdb_promql_ratio" -> 2,
      "tsdb_promql_ratio_wo" -> 2,
      "tsdb_promql_ratio_matched" -> 2,
      "tsdb_group_left" -> 2,
      "tsdb_group_left_carry" -> 3,
      "tsdb_group_right" -> 2,
      "tsdb_promql_ignoring" -> 2,
      "tsdb_promql_bool" -> 2,
      "tsdb_promql_bool_vv" -> 2,
      "tsdb_promql_cmp_vv" -> 2,
      "tsdb_promql_cmp_on" -> 2,
      "tsdb_promql_cmp_rate" -> 4,
      "tsdb_promql_and" -> 2,
      "tsdb_promql_unless" -> 2,
      "tsdb_promql_maxavg" -> 2,
      "tsdb_promql_dod" -> 2,
      "tsdb_promql_subquery_ratio" -> 5)
    val got = pinned.map { case (name, _) =>
      name -> "Exchange hashpartitioning".r
        .findAllIn(planOf(SparkEntry.queries(name)(spark, sf0001))).length
    }
    assert(got == pinned, got.mkString("\n"))
  }

  test("raw-sample range functions: each shape keeps its hash-exchange " +
      "count") {
    // resets/changes: the lag window (sid) then one aggregation;
    // irate: one (sid, t) rank window; the trend fits and the
    // histogram bucket counts: one aggregation (plus the tiny
    // interpolation window); absent: one global count
    val pinned = Seq(
      "tsdb_resets" -> 2,
      "tsdb_changes" -> 2,
      "tsdb_irate" -> 1,
      "tsdb_predict_linear" -> 1,
      "tsdb_promql_deriv" -> 1,
      "tsdb_promql_predict_offset" -> 1,
      "tsdb_absent" -> 0,
      "tsdb_absent_over_time" -> 1,
      "tsdb_histogram_quantile" -> 2,
      "tsdb_promql_histq" -> 2,
      "tsdb_promql_subquery_deriv" -> 1,
      "tsdb_promql_subquery_predict" -> 1,
      "tsdb_promql_subquery_resets" -> 2,
      "tsdb_promql_subquery_changes" -> 2)
    val got = pinned.map { case (name, _) =>
      name -> "Exchange hashpartitioning".r
        .findAllIn(planOf(SparkEntry.queries(name)(spark, sf0001))).length
    }
    assert(got == pinned, got.mkString("\n"))
  }

  test("vector compares: group-sized equi-joins, bounded exchanges, " +
      "no cartesian") {
    // counter-family compare (generic path): two lag+agg sides joined
    // on (cohort, bucket). Each side: one window exchange (sid) + one
    // aggregation exchange; the join keys equal the aggregation keys so
    // the join reuses that partitioning (or AQE broadcasts a side) —
    // bounded either way, never a cartesian or corpus broadcast.
    val rate = planOf(
      SparkEntry.queries("tsdb_promql_cmp_rate")(spark, sf0001))
    assert(!rate.contains("CartesianProduct") &&
      !rate.contains("BroadcastNestedLoopJoin"), rate.take(3000))
    val rateEx = "Exchange hashpartitioning".r.findAllIn(rate).length
    assert(rateEx <= 6, s"$rateEx hash exchanges\n${rate.take(3000)}")
    // projected one-to-many compare (guarded group_left path): two
    // one-shuffle aggregations joined on group-sized (on, bucket) keys
    val on = planOf(SparkEntry.queries("tsdb_promql_cmp_on")(spark, sf0001))
    assert(!on.contains("CartesianProduct") &&
      !on.contains("BroadcastNestedLoopJoin"), on.take(3000))
    val onEx = "Exchange hashpartitioning".r.findAllIn(on).length
    assert(onEx <= 4, s"$onEx hash exchanges\n${on.take(3000)}")
    assert(on.contains("HashAggregate"), on.take(3000))
  }

  test("mad_over_time: the groupBy reuses the window's exchange — ONE " +
      "hash shuffle") {
    val plan = planOf(SparkEntry.queries("tsdb_promql_mad")(spark, sf0001))
    // the window percentile partitions by (cohort, bucket_start) and the
    // deviation aggregation groups by the same keys, so only the window's
    // exchange appears (plus the orderBy's range exchange)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
  }

  test("dsir plan: cell factors broadcast onto the gram stream, no " +
      "corpus-sized join shuffle") {
    val plan = planOf(SparkEntry.queries("pipeline_dsir")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // partial aggregation everywhere (cell censuses + per-doc sums)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      plan.take(3000))
  }

  test("text_tfidf aggregations are partial (map-side combine)") {
    val plan = planOf(SparkEntry.queries("text_tfidf")(spark, sf0001))
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(3000))
  }

  test("decontamination broadcasts the benchmark, never shuffles the corpus") {
    val plan = planOf(SparkEntry.queries("text_decontam")(spark, sf0001))
    // benchmark n-gram set arrives via BroadcastExchange (its internal
    // distinct may shuffle the SMALL side — that's fine); the corpus side's
    // only hash exchange is the final per-doc count on doc_id
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    val docExchanges =
      "Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length
    assert(docExchanges == 1, s"$docExchanges doc_id exchanges\n${plan.take(3000)}")
    // no corpus-keyed shuffle other than that count: every remaining hash
    // exchange keys on the benchmark token set
    val others = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).filterNot(_ == "doc_id").toSeq
    assert(others.forall(_ == "tok"), s"unexpected exchanges on $others")
  }

  test("stratified sampling and split assignment are shuffle-free filters") {
    // no hash exchange at all — the only exchange is the output orderBy range
    val sampled = planOf(SparkEntry.queries("mix_sample")(spark, sf0001))
    assert("Exchange hashpartitioning".r.findFirstIn(sampled).isEmpty,
      sampled.take(3000))
    val split = planOf(SparkEntry.queries("mix_split")(spark, sf0001))
    assert("Exchange hashpartitioning".r.findFirstIn(split).isEmpty,
      split.take(3000))
  }

  test("pack_sequences: corpus window is bucket-partitioned, offsets broadcast") {
    val plan = planOf(SparkEntry.queries("pack_sequences")(spark, sf0001))
    // the corpus-wide window must be PARTITIONED by bucket — the
    // single-partition global window this operator exists to avoid would
    // print an empty partition spec over the doc scan
    assert(plan.contains("windowspecdefinition(bucket"), plan.take(3000))
    // bucket offsets join back as a broadcast (never a corpus shuffle join)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // corpus-side hash exchanges: the per-bucket totals aggregation and the
    // per-bucket window — both keyed on bucket; nothing keys on doc_id
    val others = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).filterNot(_ == "bucket").toSeq
    assert(others.isEmpty, s"unexpected exchanges on $others")
  }

  test("dedup_passages: census joins by shuffle on passage, no corpus broadcast") {
    val q = graft.operators.Dedup.dedupPassages(
      Tables.documents(spark, sf0001), "doc_id", "text", 3, 3)
    val logical = q.queryExecution.optimizedPlan.toString
    // no broadcast HINT in the logical plan: the passage census scales with
    // the corpus vocabulary and must stay a shuffle join at 100 TB (AQE may
    // still broadcast at toy scale — that's a size decision, not a plan one)
    assert(!logical.contains("ResolvedHint"), logical.take(2000))
    val plan = planOf(q)
    // df census aggregates with map-side partials before its shuffle
    assert(plan.contains("partial_count") || plan.contains("count(distinct"),
      plan.take(3000))
  }

  test("quality filter ranks per (lang, bucket) — no per-language window") {
    val plan = planOf(SparkEntry.queries("text_quality_filter")(spark, sf0001))
    // the distributed two-level rank: the corpus-sized ranking window is
    // keyed by (lang, quality-bucket) — a bare per-language partitioning
    // would serialize each language into one task at scale; the bucket
    // offsets join back as a broadcast of the langs×B count table
    assert(plan.contains("Window"), plan.take(3000))
    // the corpus-sized rank window shuffles on BOTH keys (lang, qb) —
    // lang-only hashpartitioning may appear only for the tiny
    // bucket-count offsets table
    assert("hashpartitioning\\(lang#\\d+, qb#\\d+".r.findFirstIn(plan)
      .nonEmpty, plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("NestedLoop"), plan.take(3000))
  }

  test("histogram_quantile: corpus exchange keys the full bucket group") {
    val plan = planOf(
      SparkEntry.queries("tsdb_histogram_quantile")(spark, sf0001))
    // the ONLY corpus-sized exchange is the (group, le) hash aggregation;
    // the interpolation window re-shuffles just groups × |buckets| rows
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 2, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
    assert("hashpartitioning\\([^)]*le".r.findFirstIn(plan).isDefined,
      s"corpus exchange not keyed on le\n${plan.take(3000)}")
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("predict_linear: one aggregation shuffle, map-side moments") {
    val plan = planOf(
      SparkEntry.queries("tsdb_predict_linear")(spark, sf0001))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
    assert(plan.contains("partial_sum"), plan.take(3000))
  }

  test("selector scan is shuffle-free; gaps is window + one aggregation") {
    val sel = planOf(SparkEntry.queries("tsdb_selector_scan")(spark, sf0001))
    // matcher evaluation is pure map-side filtering on the labeled scan:
    // zero hash exchanges (the final orderBy is a range exchange)
    assert("Exchange hashpartitioning".r.findAllIn(sel).isEmpty,
      sel.take(3000))
    val gaps = planOf(SparkEntry.queries("tsdb_gaps")(spark, sf0001))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(gaps).length
    assert(hashEx <= 2 && gaps.contains("Window"), s"$hashEx\n${gaps.take(3000)}")
  }

  test("salted join shuffles on (key, salt) when broadcast is off") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val ev = Tables.events(spark, sf0001)
        .select(col("user_id"), col("value"))
      val cust = Tables.customer(spark, sf0001)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val plan = operators.EventOps.saltedJoin(ev, cust, "user_id", 8)
        .queryExecution.executedPlan.toString
      // the exchanges must key on (user_id, __salt) — a hot user's rows
      // spread across 8 reducers instead of one
      assert("hashpartitioning\\(user_id[^)]*__salt".r
        .findFirstIn(plan).isDefined, plan.take(3000))
    }
  }

  test("label_replace aggregation stays one shuffle, no UDF") {
    val plan = planOf(
      SparkEntry.queries("tsdb_label_replace")(spark, sf0001))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan.take(3000))
  }

  test("gorilla chunk tier scan prunes seg partitions before decode") {
    import spark.implicits._
    val t = new Tsdb(spark, TsdbConf(
      dataPath = tempDir("chunks_plan"), segmentDuration = 7200L))
    t.insertRows((0 until 400).map(i =>
      ("m", Map("k" -> (i % 5).toString), 1600000000L + i * 60L, i.toDouble))
      .toDF("metric", "labels", "ts", "value"))
    t.materializeGorillaChunks()
    val plan = planOf(t.queryRangeFromChunks("m", Seq.empty,
      1600000000L, 1600000000L + 3600L))
    // only the first 2h segment's chunks are read; pruning happens on the
    // parquet scan BEFORE any block decodes
    assert("PartitionFilters: \\[[^\\]]*seg".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("over_time sliding windows stay one shuffle (explode, not self-join)") {
    // the *_over_time family maps each sample onto its eval points with a
    // bounded explode, then ONE hash aggregation — never a per-window
    // self-join or a window-function sort pass over the corpus
    val plan = planOf(SparkEntry.queries("tsdb_over_time")(spark, sf0001))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
    assert(plan.contains("Generate explode"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("WindowExec"),
      plan.take(3000))
  }

  test("stddev moments aggregate in one shuffle from integer cents") {
    val plan = planOf(SparkEntry.queries("tsdb_stddev")(spark, sf0001))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
  }

  test("changes is window + one aggregation; irate one bounded rank window") {
    // changes: the resets shape — per-series lag window then ONE
    // cross-series hash aggregation
    val ch = planOf(SparkEntry.queries("tsdb_changes")(spark, sf0001))
    val chEx = "Exchange hashpartitioning".r.findAllIn(ch).length
    assert(chEx == 2, s"$chEx hash exchanges\n${ch.take(3000)}")
    // irate: exactly one shuffle — the (sid, bucket) rank
    // window; no join, no second aggregation pass
    val ir = planOf(SparkEntry.queries("tsdb_irate")(spark, sf0001))
    val irEx = "Exchange hashpartitioning".r.findAllIn(ir).length
    assert(irEx == 1, s"$irEx hash exchanges\n${ir.take(3000)}")
    assert(!ir.contains("Join"), ir.take(3000))
  }

  test("absent_over_time is a grid anti-join, no window, no nested loop") {
    val plan = planOf(
      SparkEntry.queries("tsdb_absent_over_time")(spark, sf0001))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("NestedLoop") && !plan.contains("WindowExec"),
      plan.take(3000))
  }

  test("group_left joins two group-sized aggregations, no nested loop") {
    val plan = planOf(SparkEntry.queries("tsdb_group_left")(spark, sf0001))
    // two one-shuffle aggregations + the vector-match join; the join
    // inputs are group-sized so anything beyond hash/broadcast join or
    // a handful of exchanges means the shape regressed
    assert(!plan.contains("NestedLoop"), plan.take(3000))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 4, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
  }

  test("vector set ops compile to semi/anti joins, no nested loop") {
    val andPlan = planOf(SparkEntry.queries("tsdb_promql_and")(spark, sf0001))
    assert(andPlan.contains("LeftSemi"), andPlan.take(3000))
    assert(!andPlan.contains("NestedLoop"), andPlan.take(3000))
    val unlessPlan =
      planOf(SparkEntry.queries("tsdb_promql_unless")(spark, sf0001))
    assert(unlessPlan.contains("LeftAnti"), unlessPlan.take(3000))
    assert(!unlessPlan.contains("NestedLoop"), unlessPlan.take(3000))
  }

  test("group_right mirrors group_left's join shape, no nested loop") {
    val plan = planOf(SparkEntry.queries("tsdb_group_right")(spark, sf0001))
    assert(!plan.contains("NestedLoop"), plan.take(3000))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 4, s"$hashExchanges hash exchanges\n${plan.take(3000)}")
  }

  test("scalar arithmetic/threshold adds no shuffle over the bare ratio") {
    val scalarPlan =
      planOf(SparkEntry.queries("tsdb_promql_scalar")(spark, sf0001))
    val ratioPlan = planOf(SparkEntry.queries("tsdb_ratio")(spark, sf0001))
    def exchanges(p: String) =
      "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges(scalarPlan) == exchanges(ratioPlan),
      s"${exchanges(scalarPlan)} vs ${exchanges(ratioPlan)}")
  }

  test("capped LSH keeps the map-side probe join (no cartesian product)") {
    val c = graft.sources.ClusteredEmbeddings.generate(spark, 2000L)
    val q = c.where(col("vec_id") % 100 === 0)
    val plan = planOf(Similarity.multiprobeTopK(
      c, q, "vec_id", "embedding", 5, nPlanes = 24, bands = 4,
      probeBits = 0, maxBucket = 32))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan.take(3000))
    // the census join against the heavy-bucket list stays a broadcast
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("promql-compiled topk shares the direct operator's physical plan") {
    val compiled = planOf(
      SparkEntry.queries("tsdb_promql_topk")(spark, sf0001))
    val direct = planOf(SparkEntry.queries("tsdb_topk")(spark, sf0001))
    def shape(p: String) = (
      "Exchange hashpartitioning".r.findAllIn(p).length,
      "HashAggregate".r.findAllIn(p).length,
      p.contains("WindowExec") || p.contains("Window"))
    assert(shape(compiled) == shape(direct),
      s"${shape(compiled)} vs ${shape(direct)}")
  }

  test("or-vector gap fill broadcasts the bucket grid, never scans for it") {
    val plan =
      planOf(SparkEntry.queries("tsdb_promql_or_vector")(spark, sf0001))
    // the grid left-outer joins the BROADCAST aggregation (both sides
    // bounded by the query window) — a sort-merge or nested loop here
    // would shuffle the aggregation for a 168-row fill
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("NestedLoop"),
      plan.take(3000))
    // the grid side is a local Range→sequence projection, not a table scan
    // (exactly one FileScan in the whole plan: the lhs aggregation's)
    assert("FileScan|Scan parquet".r.findAllIn(plan).length <= 1,
      plan.take(3000))
  }

  test("alert rule: threshold filters BEFORE the islands windows") {
    val plan = planOf(SparkEntry.queries("tsdb_alert_rule")(spark, sf0001))
    // two windows (row_number for the island key, min for the run start),
    // both partitioned per labelset — never a global single-partition sort
    val windows = "Window".r.findAllIn(plan).length
    assert(windows >= 2, s"$windows Window nodes\n${plan.take(3000)}")
    // the island-key window partitions on the labelset (cohort), so the
    // per-series passes parallelize — a missing partition spec would
    // render as an empty partitionBy and collapse to one partition
    assert("Window \\[[^\\]]*\\], \\[cohort".r.findFirstIn(plan).isDefined ||
      plan.contains("windowspecdefinition(cohort"),
      s"islands window not partitioned per labelset\n${plan.take(3000)}")
    // the > threshold runs in the aggregation stage, upstream of the
    // windows (so the islands pass sees only ACTIVE rows — the reason
    // the x100 alert growth is 9.4x, not window-the-world): the Filter
    // on the moment column renders DEEPER than the Window operators
    val winIdx = plan.indexOf("Window")
    val thrIdx = "Filter [^\\n]*sum_v".r.findFirstMatchIn(plan)
      .map(_.start).getOrElse(-1)
    assert(winIdx >= 0 && thrIdx > winIdx,
      s"threshold filter not below the windows\n${plan.take(3000)}")
  }

  test("attach-served tsdb queries carry NO ingest-spread exchange") {
    // Tsdb.spread (the single-partition ingest defense) must engage only
    // on the materializing durable path: attach() feeds the lazy
    // memory-mode head that every query plan extends, and a round-robin
    // repartition there sat in EVERY tsdb query of the round-7 sweep
    // (uniform 1.3-2.2x slowdown) until guarded
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type").as("metric"),
        map(lit("user_id"), col("user_id").cast("string")).as("labels"),
        col("ts_s").as("ts"), col("value"))
    val t = Tsdb.attach(spark, ev)
    val plan = graft.promql.PromQL.query(t, "sum by (user_id) (click[1h])",
      1704412800L, 1705017599L).queryExecution.executedPlan.toString
    // Spark renders the spread exchange as 'RoundRobinPartitioning';
    // match case-insensitively so a renderer tweak can't silently
    // vacuate the gate
    assert(!plan.toLowerCase.contains("roundrobin"),
      s"spread() leaked into the attach-served read path:\n$plan")
    // the gate itself must be able to see the node: the durable-path
    // write DOES spread a single-partition batch (positive control)
    val spreadPlan = ev.repartition(32).queryExecution.executedPlan.toString
    assert(spreadPlan.toLowerCase.contains("roundrobin"),
      "positive control: repartition() no longer renders as RoundRobin — " +
      "update the gate's needle")
  }

  test("subquery plans: label-grain exchanges only, no cartesian, " +
      "spread adds no extra shuffle") {
    // moment-aggregated inner: lag window (sid) + per-(sid, eval) agg +
    // cross-series moment agg + outer over_time agg — all label/sid
    // grain, bounded count, never a cartesian or corpus broadcast
    val moment = planOf(
      SparkEntry.queries("tsdb_promql_subquery_moment")(spark, sf0001))
    assert(!moment.contains("CartesianProduct") &&
      !moment.contains("BroadcastNestedLoopJoin"), moment.take(3000))
    val momentEx = "Exchange hashpartitioning".r.findAllIn(moment).length
    assert(momentEx <= 4, s"$momentEx hash exchanges\n${moment.take(3000)}")
    // spread outer reuses the same plan shape as the plain outer — the
    // micro moments ride the existing aggregation, no extra exchange
    val spread = planOf(
      SparkEntry.queries("tsdb_promql_subquery_spread")(spark, sf0001))
    val plain = planOf(
      SparkEntry.queries("tsdb_promql_subquery_rate")(spark, sf0001))
    val exOf = (p: String) =>
      "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exOf(spread) == exOf(plain),
      s"spread ${exOf(spread)} vs plain ${exOf(plain)} exchanges")
    // ratio inner: two sliding legs + a group-sized equi-join — hash
    // join on the label grain, never nested-loop
    val ratio = planOf(
      SparkEntry.queries("tsdb_promql_subquery_ratio")(spark, sf0001))
    assert(!ratio.contains("CartesianProduct") &&
      !ratio.contains("BroadcastNestedLoopJoin"), ratio.take(3000))
  }

  test("pii redaction and chunking are shuffle-free map-side plans") {
    // redaction: scan -> project (regexp exprs) — zero exchanges before
    // the presentation sort
    val pii = planOf(
      SparkEntry.queries("pipeline_redact_pii")(spark, sf0001))
    assert(!pii.contains("Exchange hashpartitioning"), pii.take(3000))
    assert(!pii.toLowerCase.contains("scalaudf"), pii.take(3000))
    // chunking: scan -> project -> generate (posexplode) — no
    // aggregation, no join, zero hash exchanges
    val ch = planOf(SparkEntry.queries("pipeline_chunks")(spark, sf0001))
    assert(!ch.contains("Exchange hashpartitioning"), ch.take(3000))
    assert(ch.contains("Generate"), ch.take(3000))
  }
}
