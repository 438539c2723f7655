package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.LabelFunctions._
import graft.model.{LabelMatcher, TsdbConf}
import graft.operators.Spread

/** Spark-native TSDB with the reference's query surface (SURVEY §2):
  * `insertRows` / `queryRange` / `querySeries` / `queryLabelValues` plus
  * retention expiry — re-expressed as declarative DataFrame plans so
  * Catalyst provides partition pruning (the reference's segment pruning,
  * segment.go:48-85), parquet predicate pushdown (the per-series iterator
  * early-break, series.go:42-58), and partial/final aggregation (the
  * cross-segment merge, tsdb.go:295-321) for free.
  *
  * Storage layout: `dataPath/samples/seg=<bucket>/…parquet` — the `seg`
  * partition column is `floor(ts / segmentDuration)`, replacing the
  * reference's `seg-<minTs>-<maxTs>` directories (tsdb.go:154-156).
  * A small `dataPath/series_meta` dimension table replaces the inverted
  * index (index.go): matcher evaluation against it yields candidate sids
  * that semi-join the fact table — the Spark form of the reference's
  * union/intersect of sid sets (index.go:111-143).
  *
  * Scale design: at 100 TB the fact table is only ever touched through
  * (a) `seg` partition pruning, (b) pushed-down `ts`/`sid` predicates, and
  * (c) one hash aggregation keyed by `sid` when point-array shaping is
  * requested. No collect-to-driver anywhere; `series_meta` is small (one
  * row per series) and broadcastable.
  */
class Tsdb(val spark: SparkSession, val conf: TsdbConf) {
  import Tsdb._

  // the plain-column label-lookup simplification (see
  // graft.plans.SimplifyFoldedLabelLookup) rides the session's
  // experimental optimizer hook so it is active in ANY session that
  // touches a Tsdb — no session-builder cooperation (extensions config)
  // required; idempotent across instances
  locally {
    val rule = graft.plans.SimplifyFoldedLabelLookup
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(rule))
      spark.experimental.extraOptimizations = cur :+ rule
  }

  spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")

  private val samplesPath = s"${conf.dataPath}/samples"
  private val metaPath = s"${conf.dataPath}/series_meta"

  /** Consolidated series-meta tier: one row per sid, produced by
    * [[compactSeriesMeta]], by an inline fold whose delta has caught up
    * with it ([[foldMetaDelta]]), or by the very first durable batch
    * (whose per-sid aggregation is already merged). `series_meta` itself
    * is the fresh-append level (L0); the inline cadence fold merges L0
    * into the append-only folded level (L1, `series_meta_folded`) while
    * the delta stays under half the base, and otherwise merges
    * base ∪ L1 ∪ L0 into a new base. Reads merge base ∪ L1 ∪ L0.
    */
  private val metaBasePath = s"${conf.dataPath}/series_meta_base"

  /** Folded delta level (L1): one merged generation appended per
    * delta-only inline fold; under half the base, since a fold that
    * would take it past that rewrites the base instead. */
  private val metaFoldedPath = s"${conf.dataPath}/series_meta_folded"

  /** Label→value-set dimension tier (the reference's `labelValueSet`,
    * label.go:40-77, maintained on every insert,
    * memory_segment.go:93-96): `(seg, name, value)` label pairs,
    * seg-partitioned, each pair once per segment — a batch appends only
    * the pairs its segments do not already hold ([[appendLabelValues]]);
    * only a store written before that rule repeats pairs, until
    * [[compactLabelValues]] removes the copies. [[queryLabelValues]]
    * reads O(distinct pairs in the queried segments) from it instead of
    * aggregating the O(series) dimension — at 10M series a
    * low-cardinality label's domain is tens of rows instead of a 15M-row
    * map aggregation.
    */
  private val labelValuesPath = s"${conf.dataPath}/label_values"

  /** onlyMemoryMode head: accumulated in-memory batches (the reference's
    * memory segment, memory_segment.go). Batch appends only; the streaming
    * path writes through `insertRows` via foreachBatch. The union lineage
    * is truncated with a localCheckpoint every few batches so a
    * long-running memory head doesn't grow an unbounded plan.
    */
  private var memHead: Option[DataFrame] = None
  private var memBatches: Int = 0
  private val memCheckpointEvery = 8

  /** Partial write generations accumulated in `series_meta`: every durable
    * append (ingest batch, head flush, rollup-dim append) adds one, and a
    * read pays a merge aggregation whenever more than one is present.
    * `1` = the on-disk dim is known one-row-per-sid (single batch, or
    * freshly compacted) and reads skip the merge. A store opened from a
    * pre-existing path has unknown provenance, so it starts at the
    * compaction threshold: correctness-safe (merge-on-read) and the next
    * append folds it back to one generation.
    */
  private var metaGenerations: Int =
    if (conf.onlyMemoryMode) 0
    else if (pathExists(s"${conf.dataPath}/series_meta"))
      math.max(conf.metaCompactEvery, 2)
    else 0

  /** Cached [[metaBytes]]; invalidated by every meta write. */
  private var metaBytesCache: Option[(Long, Long, Long)] = None

  /** Rows currently buffered in the head (tracked incrementally — one count
    * per [[insertHeadRows]] batch, never a scan of the accumulated head).
    */
  private var headRows: Long = 0L

  /** Highest segment frozen to disk — the `enableOutdated=false` rejection
    * boundary. Initialized lazily from the partition listing so a Tsdb
    * attached to an existing store starts with the right boundary.
    */
  private var frozenMaxSeg: Long = Long.MinValue
  private var frozenInit: Boolean = false
  private def frozenBoundary(): Long = {
    if (!frozenInit) {
      frozenInit = true
      val segs = listSegDirs().map(_._1)
      if (segs.nonEmpty) frozenMaxSeg = math.max(frozenMaxSeg, segs.max)
    }
    frozenMaxSeg
  }

  private def fs: org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

  private def pathExists(p: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p))

  private def listSegDirs(): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val base = new org.apache.hadoop.fs.Path(samplesPath)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("seg="))
          Some((name.stripPrefix("seg=").toLong, st.getPath))
        else None
      }
  }

  // ---------------------------------------------------------------- ingest

  /** Normalize `(metric, labels, ts, value)` rows into the internal sample
    * shape: labels filtered (label.go:190-203), metric folded as `__name__`
    * (label.go:221-228), `sid` and `seg` derived.
    */
  def normalize(df: DataFrame): DataFrame = {
    // fused forms of foldMetric(normalizeLabels(coalesce(labels, map())))
    // and sidOf's sort+render — the interpreted higher-order map chain
    // (map_concat/map_filter/transform are CodegenFallback) otherwise
    // re-evaluates in every query's scan-stage Project for memory-attached
    // stores (the head union is lazy); entry-for-entry identical under
    // LAST_WIN, spec-pinned in LabelMapSpec
    // (no coalesce needed: the fused expression folds a NULL labels map
    // exactly like the empty map)
    val folded = graft.plans.FoldNormalizeLabels.fold(
      col("metric"), col("labels"))
    df.withColumn("labels", folded)
      .withColumn("sid",
        xxhash64(graft.plans.CanonicalLabelsRender.render(col("labels"))))
      .withColumn("seg", segOf(col("ts"), conf.segmentDuration))
      .select("sid", "metric", "labels", "seg", "ts", "value")
  }

  /** Batch insert (reference InsertRows, tsdb.go:205-216). Expects columns
    * `metric: string, labels: map<string,string>, ts: long (s), value:
    * double`. Appends time-partitioned parquet + upserts series metadata
    * + appends the label-value pairs its segments do not already hold
    * (it reads the distinct pairs of the segments it touches); the three
    * tiers are written concurrently ([[writeNormalized]]), and the call
    * returns only once all three have ended, so `Tsdb` stays single-writer
    * for its callers.
    * Out-of-order and late points are a non-issue in batch storage — Parquet
    * partitions are unordered collections and reads sort as needed (the
    * reference's outdated-list machinery, memory_segment.go:104-111, exists
    * only because its Gorilla blocks are append-only).
    */
  def insertRows(df: DataFrame): Unit = {
    // spread only on the durable path: it materializes (checkpoint + write),
    // so parallelizing the per-row work pays. The memory-mode head is a
    // LAZY union serving reads — an exchange here would sit in every
    // downstream query plan (attach() feeds this path; round-7 measured
    // a uniform 1.3-2.2x slowdown across the tsdb family before this
    // guard), and the source's natural partitioning is what queries want.
    // Spread engages only on a batch whose physical plan has no exchange
    // (a single-split scan or local feed): reading an exchange-bearing
    // batch's partition count would run its query stages once more.
    val norm0 = normalize(if (conf.onlyMemoryMode) df else Spread(df))
    if (conf.onlyMemoryMode) {
      val u = memHead.map(_.unionByName(norm0)).getOrElse(norm0)
      memBatches += 1
      memHead = Some(
        if (memBatches % memCheckpointEvery == 0) u.localCheckpoint()
        else u)
    } else writeNormalized(norm0)
  }

  /** Data schema of the `samples` tier (the `seg` partition column is
    * discovered from the directory names). Every tier the engine writes
    * is read with its declared schema, so building a query launches no
    * schema-inference job.
    */
  private val factSchema = StructType(Seq(StructField("sid", LongType),
    StructField("ts", LongType), StructField("value", DoubleType)))

  /** Durable write of already-normalized rows: the partitioned fact
    * append, the series-meta upsert (with its inline fold when due) and
    * the label-value append, run concurrently ([[concurrently]]). The
    * three only read `rows` — materialized once (an eager local
    * checkpoint, spillable) and released after all of them have ended,
    * so one normalize pass feeds all three; batch size bounds the
    * footprint (micro-batches in the streaming path, caller-chosen
    * batches otherwise) — and write disjoint directories. Returns, or
    * throws the first failure, only after every write has ended.
    */
  private def writeNormalized(rows: DataFrame): Unit = {
    // materialized before the writes share it: each write then reads
    // the stored blocks, where a lazily filled cache would make every
    // write plan its own cache stage and hold cores waiting on another's.
    // The same action observes the batch's segment set for the
    // label-values write, so that set costs no job of its own.
    val segsSeen = org.apache.spark.sql.Observation()
    val norm = rows
      .observe(segsSeen, collect_set(col("seg")).as("segs"))
      .localCheckpoint()
    try concurrently(3)(Seq(
      // the series-meta write first: its chain (the append, then the
      // fold when due) is the longest, and FIFO scheduling serves the
      // first-submitted job's tasks first
      () => appendSeriesMeta(norm),
      () => appendLabelValues(norm, observedSegs(segsSeen, norm)),
      () => appendFact(norm)))
    finally org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(norm)
    // advance the outdated-rejection boundary here — this serves BOTH
    // durable paths (insertRows and flushHead), so segments frozen via
    // direct insertRows are visible to insertHeadRows' gate. The max
    // frozen segment is read off the store's partition directories
    // (driver-side listing, O(segments) names) instead of a Spark job
    // over the batch: the boundary is a monotone max, so the global
    // listing equals max(old, thisBatch) exactly — and it shaves one
    // job launch per streaming commit (~0.2-0.4 s at micro-batch
    // cadence, measured in IngestBench's file-stream path).
    listSegDirs().map(_._1).maxOption.foreach { s =>
      frozenInit = true // this listing IS the lazy init's listing
      frozenMaxSeg = math.max(frozenMaxSeg, s)
    }
  }

  /** Partitioned fact append of one normalized batch. */
  private def appendFact(norm: DataFrame): Unit = {
    // shuffle by the partition column before the partitioned write: files
    // per time bucket stay bounded by `filesPerSegment` instead of
    // (tasks × buckets) — at fleet scale this is the difference between
    // 1e3 and 1e6 files per ingest batch. Sub-bucketing by sid (knob > 1)
    // parallelizes the write of a single live bucket without breaking
    // series locality: a sid lands whole inside one file either way.
    val fact = norm.select("sid", "seg", "ts", "value")
    // sort by (sid, ts) inside each bucket: per-series point locality —
    // parquet delta-encodes the ts run per series (the role of the
    // reference's per-series Gorilla blocks) and sid row-group stats
    // let the semi-join path skip row groups
    (if (conf.filesPerSegment > 1)
       fact.repartition(col("seg"),
         pmod(col("sid"), lit(conf.filesPerSegment.toLong)))
     else fact.repartition(col("seg")))
      .sortWithinPartitions("sid", "ts")
      .write
      .mode("append")
      .option("compression", conf.compression)
      .partitionBy("seg")
      .parquet(samplesPath)
  }

  /** Run `bodies` concurrently on a pool of at most `parallelism` threads
    * made for this call; their results in body order. Every body runs
    * through `SQLExecution.withThreadLocalCaptured`, so its Spark jobs
    * carry the caller's local properties (job group, description,
    * scheduler pool) and active session, as if the caller had run it —
    * cancelling the caller's job group cancels them too. Waits for EVERY
    * body before it returns or throws, so no job of the call outlives it;
    * the first failure (in body order) is rethrown with the others added
    * as suppressed. Every fan-out of Spark actions inside one engine
    * call goes through here.
    */
  private def concurrently[A](parallelism: Int)(
      bodies: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, bodies.size))
    try {
      val session =
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val running = bodies.map(body =>
        org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(session, pool)(body()))
      val outcomes = running.map { f =>
        try Right(f.join())
        catch {
          case e: java.util.concurrent.CompletionException =>
            Left(Option(e.getCause).getOrElse(e))
        }
      }
      outcomes.collectFirst { case Left(first) => first }.foreach { first =>
        outcomes.collect { case Left(e) if e ne first => e }
          .foreach(first.addSuppressed)
        throw first
      }
      outcomes.collect { case Right(a) => a }
    } finally pool.shutdown()
  }

  /** Data schema of every series-meta level, as [[metaAggOf]] and
    * [[mergedMeta]] write it. */
  private val metaSchema = StructType(Seq(
    StructField("sid", LongType), StructField("metric", StringType),
    StructField("labels", LabelsType), StructField("minTs", LongType),
    StructField("maxTs", LongType)))

  /** Per-sid meta aggregation of one normalized batch. */
  private def metaAggOf(norm: DataFrame): DataFrame =
    norm
      .groupBy("sid")
      .agg(
        first("metric").as("metric"),
        first("labels").as("labels"),
        min("ts").as("minTs"),
        max("ts").as("maxTs"))

  /** Durable series-meta upsert for one batch. The very first batch of a
    * fresh store IS one-row-per-sid after its aggregation, so it becomes
    * the consolidated base level directly; every later batch appends a
    * delta generation (merged on read, folded on the
    * `metaCompactEvery` cadence, [[foldMetaDelta]]).
    */
  private def appendSeriesMeta(norm: DataFrame): Unit = {
    val freshStore = metaGenerations == 0 &&
      !pathExists(metaBasePath) && !pathExists(metaPath) &&
      !pathExists(metaFoldedPath)
    val target = if (freshStore) metaBasePath else metaPath
    metaAggOf(norm)
      .coalesce(4)
      .write
      .mode("append")
      .option("compression", conf.compression)
      .parquet(target)
    if (freshStore) metaBytesCache = None else metaAppended()
  }

  /** Data schema of the `label_values` tier (`seg` is its partition
    * column, discovered like the fact table's). */
  private val labelValuesSchema = StructType(Seq(
    StructField("name", StringType), StructField("value", StringType)))

  /** Append the batch's distinct `(seg, name, value)` label pairs that the
    * label→value-set tier does not already hold: a null-safe left-anti
    * join (a null metric folds to a null-valued `__name__` pair) against
    * the tier's pairs in `segs`, the segments the batch touches, so the
    * read is pruned to those partitions. Cost: a batch reads the distinct
    * pairs of the segments it touches and writes only the new ones, so
    * the tier holds each pair once per segment; a batch that brings no
    * new pair writes no file. A store written before this rule may
    * repeat a pair (reads end in a distinct) and stops growing once every
    * pair is held; [[compactLabelValues]] removes the copies. Within each
    * file rows are (name, value)-sorted so single-label reads skip
    * foreign row groups via column stats; the `filesPerSegment`
    * sub-bucketing parallelizes the single-live-bucket streaming write
    * exactly like the fact path.
    */
  private def appendLabelValues(norm: DataFrame, segs: => Seq[Long]): Unit = {
    // read inside the label-values branch, so waiting for the set holds
    // up no other write
    val touched = segs
    if (touched.isEmpty) return
    val pairs = norm
      .select(col("seg"), explode(col("labels")).as(Seq("name", "value")))
      .distinct()
    val fresh =
      if (!pathExists(labelValuesPath)) pairs
      else nullSafeEquiJoin(pairs,
        // `seg` declared, so the partition filter resolves even where no
        // partition is there to discover (an empty tier directory)
        spark.read.schema(labelValuesSchema.add("seg", IntegerType))
          .parquet(labelValuesPath)
          .where(col("seg").isin(touched: _*)),
        Seq("seg", "name", "value"), "left_anti")
    val sub = math.max(1, conf.filesPerSegment).toLong
    fresh
      .repartition(col("seg"),
        pmod(xxhash64(col("name"), col("value")), lit(sub)))
      .sortWithinPartitions("name", "value")
      .write
      .mode("append")
      .option("compression", conf.compression)
      .partitionBy("seg")
      .parquet(labelValuesPath)
  }

  /** The segments a normalized batch touches: one small job. */
  private def batchSegs(norm: DataFrame): Seq[Long] =
    norm.select("seg").where(col("seg").isNotNull).distinct()
      .collect().toSeq.map(_.getLong(0))

  /** The segment set `seen` collected on the action that materialized
    * `norm`. Its listener event arrives asynchronously; should it not
    * arrive within a minute, the set is read off `norm` instead. */
  private def observedSegs(
      seen: org.apache.spark.sql.Observation, norm: DataFrame): Seq[Long] =
    try scala.concurrent.Await.result(seen.future,
      scala.concurrent.duration.Duration(60, "s")).getSeq[Long](0)
    catch {
      case _: java.util.concurrent.TimeoutException => batchSegs(norm)
    }

  /** Bookkeeping after every durable `series_meta` DELTA append: one more
    * partial generation on disk, size cache stale; fold inline once the
    * configured cadence is reached ([[foldMetaDelta]]). A read then sees
    * the base, a folded level under half the base plus at most one fold's
    * generations, and at most `metaCompactEvery` fresh generations. A
    * fold costs O(rows appended since the last fold) while both delta
    * levels are small, and at most 3× the rows touched since the base
    * was last rewritten once one of them is not.
    */
  private def metaAppended(): Unit = {
    metaGenerations += 1
    metaBytesCache = None
    if (conf.metaCompactEvery > 0 && metaGenerations >= conf.metaCompactEvery)
      foldMetaDelta()
  }

  /** Head-buffered ingest — the reference's live memory segment
    * (memory_segment.go): rows accumulate in the in-memory head, reads see
    * disk ∪ head (head scanned last, segment.go:62-65) until [[flushHead]]
    * — or the `maxRowsPerSegment` secondary trigger — freezes the head to
    * parquet. With `enableOutdated=false`, rows whose segment is already
    * frozen are rejected (returned count) instead of silently merged.
    *
    * @return number of rows rejected by the outdated gate (0 when
    *         `enableOutdated=true`)
    */
  def insertHeadRows(df: DataFrame): Long = {
    val norm0 = normalize(Spread(df))
    // localCheckpoint materializes the batch once: the count below and the
    // head union both read the materialized partitions, and the incoming
    // lineage (often a fresh source read) is truncated
    val all = norm0.localCheckpoint()
    val (accepted, rejected) =
      if (conf.enableOutdated) (all, 0L)
      else {
        val boundary = frozenBoundary()
        if (boundary == Long.MinValue) (all, 0L)
        else {
          val ok = all.where(col("seg") > boundary).localCheckpoint()
          (ok, all.count() - ok.count())
        }
      }
    headRows += accepted.count()
    memBatches += 1
    memHead = Some(memHead.map(_.unionByName(accepted)).getOrElse(accepted))
    if (memBatches % memCheckpointEvery == 0)
      memHead = memHead.map(_.localCheckpoint())
    if (conf.maxRowsPerSegment > 0 && headRows >= conf.maxRowsPerSegment)
      flushHead()
    rejected
  }

  /** Freeze the head: durable-write the buffered rows and clear the buffer
    * (the reference's segment flush, tsdb.go:242-265). No-op in
    * `onlyMemoryMode` (nowhere to flush) or with an empty head.
    */
  def flushHead(): Unit = {
    if (conf.onlyMemoryMode) return
    memHead.foreach { h =>
      if (headRows > 0) writeNormalized(h) // advances frozenMaxSeg
    }
    memHead = None
    headRows = 0L
    memBatches = 0
  }

  // ---------------------------------------------------------------- tables

  /** The long-format sample table. Unified view: when both a disk store and
    * a live head exist (head-buffered or streaming ingest in flight), the
    * union of the two — disk segments first, head last — so queries always
    * see all data, matching the reference's segment list + head iteration
    * order (segment.go:62-65). In `onlyMemoryMode` the head is the store;
    * disk-only mode reads parquet directly. Filters push through the Union
    * into each branch, so `seg` partition pruning on the disk side is
    * unaffected by the head.
    */
  def samples: DataFrame = {
    if (conf.onlyMemoryMode)
      memHead.getOrElse(spark.read.schema(factSchema).parquet(samplesPath))
    else {
      val factCols = Seq("sid", "seg", "ts", "value")
      val disk =
        if (pathExists(samplesPath))
          Some(spark.read.schema(factSchema).parquet(samplesPath)
            .select(factCols.map(col): _*))
        else None
      val head = memHead.map(_.select(factCols.map(col): _*))
      (disk, head) match {
        case (Some(d), Some(h)) => d.unionByName(h)
        case (Some(d), None) => d
        case (None, Some(h)) => h
        // neither: preserve the read-of-missing-path error surface
        case (None, None) =>
          spark.read.schema(factSchema).parquet(samplesPath)
      }
    }
  }

  /** On-disk bytes of the series-meta levels: (base, folded L1, fresh
    * L0). One FS listing, cached until the next meta write.
    */
  private def metaBytes: (Long, Long, Long) = metaBytesCache.getOrElse {
    def len(p: String): Long =
      if (conf.onlyMemoryMode || !pathExists(p)) 0L
      else fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    val b = (len(metaBasePath), len(metaFoldedPath), len(metaPath))
    metaBytesCache = Some(b)
    b
  }

  /** The delta-to-base byte ratio at which the series-meta delta counts as
    * caught up with the base: an inline fold rewrites the base once its
    * folded level or the fresh generations it folds reach it
    * ([[foldMetaDelta]]), and a read merges all levels in one aggregation
    * instead of the broadcast split once both delta levels together do
    * ([[metaDeltaSmall]]). At one half, a base rewrite reads at most 3×
    * the rows touched since the last one.
    */
  private val MetaCatchUpRatio = 0.5

  /** True when `bytes` of series meta provably fit under the session's
    * broadcast threshold (× a conservative 4× decompression factor).
    */
  private def underBroadcast(bytes: Long): Boolean = {
    val thr = Tsdb.broadcastThresholdBytes(spark)
    thr >= 0 && (bytes == 0 || bytes * 4 < thr)
  }

  /** True when the series dimension provably fits under the session's
    * broadcast threshold. A disk-backed dimension is measured
    * ([[metaBytes]]); a pure memory head is treated as small, since its
    * series count is bounded by the flush cadence (`maxRowsPerSegment`),
    * not by total data volume. High-cardinality stores — the TSDB
    * cardinality bomb, series count ∝ data — therefore get NO hint, and
    * the planner (or AQE at runtime) picks a shuffle join instead of an
    * executor-OOM broadcast.
    */
  private def seriesDimSmall: Boolean = {
    val (base, l1, l0) = metaBytes
    underBroadcast(base + l1 + l0)
  }

  /** Broadcast-hint the series dimension only when it is provably small
    * ([[seriesDimSmall]]) — the semi-join shape is kept either way.
    */
  private def dimHint(dim: DataFrame): DataFrame =
    if (seriesDimSmall) broadcast(dim) else dim

  /** Fact rows with metric + labels attached — identity for the
    * in-memory head (it carries the label maps), broadcast dimension join
    * for the normalized disk layout.
    */
  def samplesWithLabels: DataFrame =
    if (samples.columns.contains("labels")) samples
    else samples
      .join(dimHint(seriesMeta.select("sid", "metric", "labels")), "sid")
      .select("sid", "metric", "labels", "seg", "ts", "value")

  /** Typed view of the sample table for compile-time-checked pipelines. */
  def typedSamples: org.apache.spark.sql.Dataset[graft.model.Sample] = {
    import spark.implicits._
    samplesWithLabels.select("sid", "metric", "labels", "seg", "ts", "value")
      .as[graft.model.Sample]
  }

  /** Series dimension: one row per sid with label set + time bounds.
    * Persisted appends are compacted at read (min/max re-merge) — the same
    * partial/final merge the reference does across segments — but the
    * merge is skipped when the store is provably one-row-per-sid already:
    * a head-only dimension (its aggregation IS the merge) or a disk
    * dimension at a single write generation (one batch, or a freshly
    * rewritten base). Otherwise a read merges the base, a folded level
    * under half the base plus at most one fold's generations, and at most
    * `metaCompactEvery` fresh generations (`TsdbConf.metaCompactEvery`,
    * [[foldMetaDelta]]): through the broadcast anti/semi split when the
    * delta is small ([[metaDeltaSmall]]), in one aggregation over all
    * levels when it is not. Reads that select series by label matchers
    * use the matcher form below, which filters each level before the
    * merge.
    */
  def seriesMeta: DataFrame = metaLevels(identity)

  /** [[seriesMeta]] restricted to the series that match `matchers`: the
    * predicate filters every level, and the head rows, BEFORE the merge,
    * so a read merges only the matching series' rows instead of the
    * whole dimension. Exact, because a sid's labels and metric are the
    * same on every level: a level filter keeps or drops all of a sid's
    * rows together. `__name__` resolves against the plain `metric`
    * column ([[metricColumnPredicate]]), which pushes into the meta
    * parquet scan.
    */
  private[graft] def seriesMeta(matchers: Seq[LabelMatcher]): DataFrame = {
    val keep = metricColumnPredicate(matchers)
    metaLevels(_.where(keep))
  }

  /** The [[seriesMeta]] merge, with `keep` applied to each level (and to
    * the head rows) before it. */
  private def metaLevels(keep: DataFrame => DataFrame): DataFrame = {
    def level(path: String): Option[DataFrame] =
      if (!conf.onlyMemoryMode && pathExists(path))
        Some(keep(spark.read.schema(metaSchema).parquet(path)))
      else None
    val headAgg = memHead.map(h =>
      keep(h).groupBy("sid").agg(
        first("metric").as("metric"), first("labels").as("labels"),
        min("ts").as("minTs"), max("ts").as("maxTs")))
    val base = level(metaBasePath)
    val diskL0 = level(metaPath)
    val diskL1 = level(metaFoldedPath)
    // the head aggregation is just another (already-merged) delta level
    val delta = Seq(diskL1, diskL0, headAgg).flatten
      .reduceOption(_ unionByName _)
    (base, delta) match {
      case (Some(b), None) => b // base is one-row-per-sid by construction
      case (Some(b), Some(d)) =>
        if (metaDeltaSmall) {
          // merge-on-read split: the base NEVER shuffles — untouched sids
          // pass through a broadcast anti-join, touched sids re-merge
          // through a broadcast semi-join + one aggregation bounded by
          // delta size. At 15M series with a small delta this replaces a
          // 15M-row shuffle aggregation per metadata read with two
          // broadcast probes over the same scan.
          val dm = mergedMeta(d)
          val keys = dm.select("sid")
          b.join(broadcast(keys), Seq("sid"), "left_anti")
            .unionByName(mergedMeta(
              b.join(broadcast(keys), Seq("sid"), "left_semi")
                .unionByName(dm)))
        } else mergedMeta(b.unionByName(d))
      case (None, Some(d)) =>
        if (diskL0.isEmpty && diskL1.isEmpty) d // head-only: pre-merged
        else if (headAgg.isEmpty && diskL1.isEmpty && metaGenerations <= 1)
          d
        else mergedMeta(d)
      case (None, None) =>
        mergedMeta(keep(spark.read.schema(metaSchema).parquet(metaPath)))
    }
  }

  /** Partial/final merge of stacked per-sid meta rows (the reference's
    * cross-segment merge of series bounds, tsdb.go:295-321).
    */
  private def mergedMeta(raw: DataFrame): DataFrame = raw
    .groupBy("sid")
    .agg(
      first("metric").as("metric"),
      first("labels").as("labels"),
      min("minTs").as("minTs"),
      max("maxTs").as("maxTs"))

  /** True when the on-disk series-meta delta (L1 + L0 together) provably
    * fits under the session broadcast threshold AND is small beside the
    * base (under [[MetaCatchUpRatio]] of its bytes) — the gate for the
    * [[seriesMeta]] split read. A delta that covers most sids gains
    * nothing from the split (its anti-join passes almost nothing), so it
    * merges in one aggregation instead (correct either way).
    */
  private def metaDeltaSmall: Boolean = {
    val (base, l1, l0) = metaBytes
    underBroadcast(l1 + l0) && l1 + l0 < base * MetaCatchUpRatio
  }

  // ---------------------------------------------------------------- queries

  /** QueryRange (reference tsdb.go:278-293): long-format result
    * `(sid, labels, ts, value)` filtered to the metric, matchers and
    * inclusive `[start, end]` range. The `seg` predicate prunes partitions;
    * `ts` pushes into parquet row-group stats.
    */
  def queryRange(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long): DataFrame =
    // path choice by storage layout: when the fact rows already carry the
    // label maps (the in-memory attached head), the
    // direct predicate path is one scan with zero joins — evaluating
    // matchers via the series dimension would scan the same relation TWICE
    // (fact + dimension aggregation). The index path pays off exactly when
    // the fact is normalized (no labels) and the dimension is the only way
    // to evaluate matchers without a per-row reconstruction join.
    queryRange(metric, matchers, start, end,
      useSeriesIndex = !samples.columns.contains("labels"))

  /** @param useSeriesIndex when true (default), matcher evaluation runs on
    * the small series_meta dimension and the matching sids semi-join the
    * fact table (broadcast at any realistic series cardinality) — the Spark
    * form of the reference's inverted-index sid-set union/intersect
    * (index.go:111-143). The fact scan then only evaluates pushed-down
    * `seg`/`ts` predicates and an 8-byte join key, never the map lookups.
    * `false` applies the label predicates directly to the fact rows —
    * identical results, used as the cross-check path in tests.
    */
  def queryRange(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      useSeriesIndex: Boolean): DataFrame = {
    val all = LabelMatcher.eq(MetricLabel, metric) +: matchers
    val pruned = samples
      .where(segPredicate(start, end))
      .where(col("ts").between(start, end))
    if (useSeriesIndex) {
      // matchers run on the series dimension; matching sids (with their
      // label sets) broadcast-join the pruned fact scan — this also
      // reconstructs labels for the normalized fact layout
      val matching = seriesMeta(all).select("sid", "labels")
      pruned
        .select("sid", "ts", "value")
        .join(dimHint(matching), "sid")
        .select("sid", "labels", "ts", "value")
    } else {
      val withLabels =
        if (pruned.columns.contains("labels")) pruned
        else pruned.select("sid", "ts", "value")
          .join(dimHint(seriesMeta.select("sid", "labels")), "sid")
      withLabels
        .where(factMatcherPredicate(withLabels, all))
        .select("sid", "labels", "ts", "value")
    }
  }

  /** PromQL-style selector range query: `{__name__=~"...", ...}` — the
    * metric itself is just a matcher, so one query spans metrics (the
    * reference's QueryRange is single-metric by signature, tsdb.go:268).
    * Same two paths as [[queryRange]]: matchers evaluate on the series
    * dimension (index path) or directly on labeled fact rows; the fact
    * scan still only sees pruned `seg`/`ts` predicates plus the sid key.
    */
  def queryRangeSelector(
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long): DataFrame = {
    require(matchers.nonEmpty, "selector needs at least one matcher")
    val pruned = samples
      .where(segPredicate(start, end))
      .where(col("ts").between(start, end))
    if (!samples.columns.contains("labels")) {
      val matching = seriesMeta(matchers).select("sid", "labels")
      pruned
        .select("sid", "ts", "value")
        .join(dimHint(matching), "sid")
        .select("sid", "labels", "ts", "value")
    } else
      pruned
        .where(factMatcherPredicate(pruned, matchers))
        .select("sid", "labels", "ts", "value")
  }

  /** Per-series sampling-gap detection: count and max of the gaps between
    * consecutive samples that exceed `thresholdSec` — the staleness /
    * lost-scrape signal an operator dashboards first. One window on sid +
    * one aggregation, both on the pruned range scan.
    */
  def gapsBy(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      byLabels: Seq[String],
      thresholdSec: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sid").orderBy(col("ts"), col("value"))
    val keys = labelCols(byLabels)
    queryRange(metric, matchers, start, end)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .where(col("prev_ts").isNotNull)
      .withColumn("gap", col("ts") - col("prev_ts"))
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(when(col("gap") > thresholdSec, 1L).otherwise(0L)).as("n_gaps"),
        max("gap").as("max_gap"))
  }

  /** QueryRange shaped like the reference's `MetricRet` (tsdb.go:273-276):
    * one row per series with a ts-sorted points array. The sort_array of
    * collected structs is the reference's concat+sort merge
    * (tsdb.go:295-321) expressed as one hash aggregation. Optional terminal
    * step — at 100 TB keep the long format (SURVEY §7.4).
    */
  def queryRangeShaped(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long): DataFrame =
    queryRange(metric, matchers, start, end)
      .groupBy("sid")
      .agg(
        first("labels").as("labels"),
        sort_array(collect_list(struct(col("ts"), col("value")))).as("points"))

  /** Bounded-row variant of [[queryRangeShaped]]: splits each series into
    * chunks of at most `maxPointsPerRow` ts-ordered points, so no single
    * output row (or aggregation buffer) grows with the range length — the
    * scale-safe shaping for wide time ranges (SURVEY §7.4). Output adds a
    * `chunk` ordinal per series.
    */
  def queryRangeShapedChunked(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      maxPointsPerRow: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sid").orderBy("ts")
    queryRange(metric, matchers, start, end)
      .withColumn("chunk",
        floor((row_number().over(w) - 1) / maxPointsPerRow).cast("long"))
      .groupBy("sid", "chunk")
      .agg(
        first("labels").as("labels"),
        sort_array(collect_list(struct(col("ts"), col("value")))).as("points"))
  }

  /** Stage (a) of the range functions: one selector's samples keyed on
    * the eval grid. The one raw-sample scan and the one offset check;
    * `relabel` rewrites the label map before any grouping (label_replace
    * / label_join feeding an aggregation — matchers still see the
    * original labels, like Prometheus), then `prep` runs on the scanned
    * samples (the [[Tsdb.counterLag]] of the counter family and of
    * resets/changes). `gridStep` picks t:
    *  - None: tumbling buckets `rangeSec` wide, t = `bucket_start`
    *    ([[Tsdb.bucketKey]]), over the scan [start − o, end − o]; with
    *    `whole`, that scan is ONE window and there is no t (the no-step
    *    trend fit, absent; `rangeSec` is unused);
    *  - Some(s): the sliding eval grid every s over `rangeSec`
    *    lookbacks, t = `eval_ts` ([[Tsdb.explodeEvalGrid]]); the scan
    *    reaches one lookback before the grid, so the first eval points
    *    see their whole window and the lag's pairs are not cut.
    * An offset o scans o back and reports t o forward, at the REQUESTED
    * grid. The one-window and sliding frames carry `__end`, each
    * window's last second before the shift (the trend fit's x origin;
    * unread, it is pruned). Returns (keyed samples, group keys =
    * `byLabels` then t); stage (b) groups on the keys:
    * [[Tsdb.gaugeAggregate]] for the gauge family and the other
    * raw-sample functions, [[counterSeries]] then
    * [[Tsdb.counterAggregate]] for the counter family. */
  private[graft] def windowedSamples(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      byLabels: Seq[String],
      rangeSec: Long,
      gridStep: Option[Long],
      offsetSec: Long,
      prep: DataFrame => DataFrame = identity,
      relabel: Column => Column = identity,
      whole: Boolean = false): (DataFrame, Seq[Column]) = {
    require(offsetSec >= 0, s"offset must be >= 0: $offsetSec")
    val (start0, end0) = (start - offsetSec, end - offsetSec)
    def scan(from: Long) = prep(queryRange(metric, matchers, from, end0)
      .withColumn("labels", relabel(col("labels"))))
    gridStep match {
      case None if whole =>
        (scan(start0).withColumn("__end", lit(end0)), labelCols(byLabels))
      case None =>
        (scan(start0), labelCols(byLabels) :+ bucketKey(rangeSec, offsetSec))
      case Some(step) =>
        (explodeEvalGrid(scan(start0 - rangeSec + 1), "ts", start0, end0,
            step, rangeSec, "eval_ts")
          .withColumn("__end", col("eval_ts"))
          .withColumn("eval_ts", col("eval_ts") + offsetSec),
          labelCols(byLabels) :+ col("eval_ts"))
    }
  }

  /** The counter family's per-series step (`rate` / `increase`) between
    * its stages: over [[windowedSamples]] with the [[Tsdb.counterLag]]
    * as `prep`, one aggregation per (sid, `byLabels`, t) sums the
    * decimal deltas (`__inc`) and counts them (`__n`; the prefix keeps
    * them apart from any label name); a series contributes to t only
    * when it has ≥ 1 delta there. The group keys lead with sid, the lag
    * window's partitioning, so this step adds no exchange. Stage (b) is
    * [[Tsdb.counterAggregate]]. */
  private[graft] def counterSeries(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      byLabels: Seq[String],
      rangeSec: Long,
      gridStep: Option[Long],
      offsetSec: Long): DataFrame = {
    val (perDelta, keys) = windowedSamples(metric, matchers, start, end,
      byLabels, rangeSec, gridStep, offsetSec,
      prep = s => counterLag(s).where(col("delta").isNotNull))
    perDelta
      .groupBy((col("sid") +: keys): _*)
      .agg(sum(col("delta")).as("__inc"), count(lit(1)).as("__n"))
  }

  /** Materialize a per-(sid, step-bucket) rollup store — the continuous
    * downsampling tier (Thanos/M3-style) that serves coarse-range queries
    * without touching raw samples. Partial aggregates (count, exact
    * DECIMAL sum, min, max) are associative, so any label-dimension
    * aggregation over the rollup merges to EXACTLY the raw-data answer
    * for bucket-aligned windows. One hash aggregation over the full store,
    * written seg-partitioned and (sid, bucket)-sorted like the fact table;
    * at 100 TB this runs once per step tier as a maintenance job and cuts
    * served-query input by the points-per-bucket factor.
    */
  def materializeRollup(stepSec: Long): String = {
    require(stepSec > 0 && conf.segmentDuration % stepSec == 0,
      s"stepSec must divide segmentDuration: $stepSec vs ${conf.segmentDuration}")
    val path = s"${conf.dataPath}/rollup_$stepSec"
    samples
      .withColumn("bucket_start", bucketStart(stepSec))
      .groupBy("sid", "bucket_start")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"),
        min("value").as("min_v"),
        max("value").as("max_v"))
      .withColumn("seg", segOf(col("bucket_start"), conf.segmentDuration))
      .repartition(col("seg"))
      .sortWithinPartitions("sid", "bucket_start")
      .write.mode("overwrite")
      .option("compression", conf.compression)
      .partitionBy("seg")
      .parquet(path)
    // the overwrite dropped any _batch_committed markers with the old
    // files; record the rebuild so a later incremental append (whose
    // batches this rebuild may already cover) can warn about the
    // double-count it would cause
    writeModeMarker(path, "rebuild")
    path
  }

  /** Append one batch's per-(sid, bucket) partials to the rollup store —
    * the incremental maintenance form of [[materializeRollup]] (what a
    * streaming pipeline runs per micro-batch instead of periodic full
    * rebuilds). Correct by associativity: [[aggregateByFromRollup]] merges
    * ALL partial rows per (labels, bucket), so duplicate (sid, bucket)
    * entries from different batches combine to exactly the full-rebuild
    * totals. Also upserts the series dimension (append + merge-on-read,
    * same as the raw write path) so rollup-only stores still resolve
    * labels.
    *
    * Pick ONE maintenance mode per (store, step) tier: incremental
    * appends of every batch, OR periodic [[materializeRollup]] rebuilds.
    * Appending batches that a later full rebuild also covers would
    * double-count (a rebuild does reset the tier — `mode(overwrite)` —
    * so rebuild-after-appends is safe; appends-after-rebuild of the same
    * data are not). The tier records its last maintenance mode in a
    * `_maintenance_mode` marker; appending to a tier last written by a
    * full rebuild logs a loud warning, since nothing at read time can
    * detect the resulting double-count.
    *
    * @param batchId when set (the streaming path passes its micro-batch
    *   id), the append is EXACTLY-ONCE: partials are staged to a temp
    *   dir, promoted into the tier under batchId-prefixed file names
    *   (re-promotion after a mid-copy crash first clears that prefix),
    *   and a `_batch_committed/<id>` marker makes any replayed batch a
    *   no-op — `foreachBatch` is at-least-once, and a non-idempotent
    *   append would over-count every sum served from the rollup.
    */
  def appendRollupPartials(
      batch: DataFrame,
      stepSec: Long,
      batchId: Option[Long] = None): Unit = {
    require(stepSec > 0 && conf.segmentDuration % stepSec == 0,
      s"stepSec must divide segmentDuration: $stepSec vs ${conf.segmentDuration}")
    val path = s"${conf.dataPath}/rollup_$stepSec"
    val committed = batchId.map(id =>
      new org.apache.hadoop.fs.Path(s"$path/_batch_committed/$id"))
    if (committed.exists(fs.exists)) return // replayed micro-batch: no-op
    if (readModeMarker(path).contains("rebuild"))
      logWarning(
        s"appendRollupPartials on $path last written by a full rebuild: " +
          "appending batches the rebuild already covered double-counts")
    val norm = normalize(batch).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partials = norm
        .withColumn("bucket_start", bucketStart(stepSec))
        .groupBy("sid", "bucket_start")
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sum_dec"),
          min("value").as("min_v"),
          max("value").as("max_v"))
        .withColumn("seg", segOf(col("bucket_start"), conf.segmentDuration))
        .repartition(col("seg"))
      batchId match {
        case None =>
          partials
            .write.mode("append")
            .option("compression", conf.compression)
            .partitionBy("seg")
            .parquet(path)
        case Some(id) =>
          val tmp = s"${conf.dataPath}/.rollup_stage_${stepSec}_$id"
          partials
            .write.mode("overwrite")
            .option("compression", conf.compression)
            .partitionBy("seg")
            .parquet(tmp)
          promoteStagedFiles(tmp, path, s"b$id-")
      }
      writeModeMarker(path, "incremental")
      appendSeriesMeta(norm)
      appendLabelValues(norm, batchSegs(norm))
      // the commit marker is written LAST — after the series-meta append —
      // so a crash in between replays the whole batch: re-promotion clears
      // the batch-prefixed files first and meta duplicates are idempotent
      // under the min/max merge, whereas a marker written before the meta
      // append would make the replay a no-op and leave the batch's sids
      // invisible to aggregateByFromRollup's sid semi-join forever
      committed.foreach { m =>
        fs.mkdirs(m.getParent)
        fs.create(m, true).close()
      }
    } finally norm.unpersist()
  }

  /** Move every staged data file under `tmp/seg=*` into the live tier as
    * `<prefix><name>` — single-file renames, no directory swaps, so
    * concurrent readers never see a vanishing partition. A half-promoted
    * previous attempt is made safe by first deleting live files carrying
    * the same batch prefix (deterministic names make the cleanup exact).
    */
  private def promoteStagedFiles(
      tmp: String, live: String, prefix: String): Unit = {
    val tmpBase = new org.apache.hadoop.fs.Path(tmp)
    fs.listStatus(tmpBase)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
      .foreach { segDir =>
        val liveSeg = new org.apache.hadoop.fs.Path(live, segDir.getPath.getName)
        fs.mkdirs(liveSeg)
        fs.listStatus(liveSeg)
          .filter(_.getPath.getName.startsWith(prefix))
          .foreach(st => fs.delete(st.getPath, false))
        fs.listStatus(segDir.getPath)
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .foreach { st =>
            val dst = new org.apache.hadoop.fs.Path(
              liveSeg, prefix + st.getPath.getName)
            if (!fs.rename(st.getPath, dst))
              sys.error(s"promote: rename ${st.getPath} -> $dst failed")
          }
      }
    fs.delete(tmpBase, true)
  }

  /** Last maintenance mode recorded for a rollup tier
    * (`incremental` | `rebuild`), if any.
    */
  private def readModeMarker(path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_maintenance_mode")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        if (n <= 0) None else Some(new String(buf, 0, n, "UTF-8").trim)
      } finally in.close()
    }
  }

  private def writeModeMarker(path: String, mode: String): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_maintenance_mode"), true)
    try out.write(mode.getBytes("UTF-8"))
    finally out.close()
  }

  /** The gauge `moments` ([[Tsdb.gaugeAggregate]] on the tumbling
    * grid) served from a materialized rollup instead of raw
    * samples: merge the per-series partials per (label subset, bucket).
    * Requires a bucket-aligned window (`start` on a bucket boundary,
    * `end` the last second of a bucket) — then the result is
    * value-identical to the raw-data moments, because DECIMAL sums
    * and count/min/max merge associatively. The rollup scan is pruned by
    * `seg` and `bucket_start`; labels come from the broadcast series
    * dimension exactly like the raw path.
    */
  def aggregateByFromRollup(
      stepSec: Long,
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      byLabels: Seq[String],
      offsetSec: Long = 0L): DataFrame = {
    require(start % stepSec == 0 && (end + 1) % stepSec == 0,
      s"window [$start, $end] must be aligned to $stepSec-second buckets")
    // the rollup tier is bucket-aligned, so only a bucket-MULTIPLE
    // offset can be served exactly (day-over-day on an hourly tier);
    // anything else must go to the raw path — loud, never approximate
    require(offsetSec >= 0 && offsetSec % stepSec == 0,
      s"a rollup-served offset must be a multiple of the $stepSec-second " +
      s"bucket to be exact: $offsetSec")
    val start0 = start - offsetSec
    val end0 = end - offsetSec
    val roll = spark.read.parquet(s"${conf.dataPath}/rollup_$stepSec")
      .where(segPredicate(start0, end0))
      .where(col("bucket_start").between(start0, end0))
    val matching =
      seriesMeta(LabelMatcher.eq(MetricLabel, metric) +: matchers)
        .select("sid", "labels")
    val keys = labelCols(byLabels) :+
      (col("bucket_start") + offsetSec).as("bucket_start")
    roll
      .join(dimHint(matching), "sid")
      .groupBy(keys: _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("sum_dec")).cast("double").as("sum_v"),
        (sum(col("sum_dec")).cast("double") / sum(col("n"))).as("avg_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** PromQL `holt_winters(v[range], sf, tf)` (double exponential
    * smoothing) on the sliding eval grid: per (series-group, eval point)
    * the windowed samples fold IN TIMESTAMP ORDER through Prometheus's
    * recurrence (functions.go funcHoltWinters):
    * {{{
    *   s = x0; b = x1 - x0
    *   for i in 1..n-1:
    *     s' = sf·xᵢ + (1−sf)·(s + b)
    *     b  = tf·(s' − s) + (1−tf)·b;  s = s'
    *   result = s        (windows with < 2 samples emit nothing)
    * }}}
    * Implemented as ONE hash aggregation (the [[windowedSamples]] grid
    * explode) collecting the bounded window into a sorted array, then a
    * codegen'd `aggregate` fold — no window function, no shuffle beyond
    * the grouping, per-group state bounded by the lookback window. The
    * identical double op order is mirrored in the oracle's recursive
    * CTE; round(…,6) absorbs ULP.
    */
  def holtWintersBy(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      byLabels: Seq[String],
      stepSec: Long,
      rangeSec: Long,
      sf: Double,
      tf: Double,
      offsetSec: Long = 0L): DataFrame = {
    require(sf > 0 && sf < 1 && tf > 0 && tf < 1,
      s"holt_winters smoothing factors must be in (0, 1): sf=$sf tf=$tf")
    val (windowed, keys) = windowedSamples(metric, matchers, start, end,
      byLabels, rangeSec, Some(stepSec), offsetSec)
    // ts-sorted window values (ties break on value, mirrored in the
    // oracle's ORDER BY ts, value)
    val pts = sort_array(collect_list(struct(col("ts"),
      col("value").cast("double").as("v"))))
    val xs = col("xs")
    val s0 = element_at(xs, 1)
    val fold = aggregate(
      expr("slice(xs, 2, size(xs) - 1)"),
      struct(s0.as("s"), (element_at(xs, 2) - s0).as("b")),
      (acc, x) => {
        val sNew = lit(sf) * x + lit(1 - sf) *
          (acc.getField("s") + acc.getField("b"))
        struct(sNew.as("s"),
          (lit(tf) * (sNew - acc.getField("s")) +
            lit(1 - tf) * acc.getField("b")).as("b"))
      },
      acc => acc.getField("s"))
    windowed
      .groupBy((col("sid") +: keys): _*)
      .agg(pts.as("pts"), count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .withColumn("xs", transform(col("pts"), p => p.getField("v")))
      .withColumn("hw_v", round(fold, 6))
      .drop("sid", "pts", "xs")
  }

  /** PromQL `absent_over_time(metric{matchers}[rangeSec])` on a step
    * grid: one `(eval_ts, 1.0)` row for every eval timestamp whose
    * PromQL lookback window `(e - rangeSec, e]` contains NO matching
    * sample — the "stopped reporting, and since when" alerting signal
    * ([[absentRange]] collapses the whole range to one bit).
    *
    * Scale shape: the eval grid is `spark.range` (length bounded by the
    * query window, never the data), present eval points come from the
    * sliding [[windowedSamples]] on the same [[Tsdb.evalGrid]] — its
    * full-lookback scan keeps absence the exact complement of the
    * present grid — followed by one distinct aggregation, and absence
    * is a single anti-join on an 8-byte key. No per-eval-point scan, no
    * driver loop.
    */
  def absentOverTime(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      stepSec: Long,
      rangeSec: Long,
      offsetSec: Long = 0L): DataFrame = {
    val present = windowedSamples(metric, matchers, start, end, Nil,
        rangeSec, Some(stepSec), offsetSec)._1
      .select("eval_ts").distinct()
    val (gridStart, gridEnd) =
      evalGrid(start - offsetSec, end - offsetSec, stepSec)
    spark.range(gridStart, gridEnd + 1, stepSec)
      .select((col("id") + offsetSec).as("eval_ts"))
      .join(present, Seq("eval_ts"), "left_anti")
      .select(col("eval_ts"), lit(1.0).as("value"))
  }

  /** PromQL `absent(metric{matchers}[start..end])`: a single row with
    * `value = 1.0` when NO sample matches the selector in the range,
    * empty otherwise — the alerting primitive for "this metric stopped
    * reporting". The one-window [[windowedSamples]] scan feeding a
    * global count; the count compares on the driver side of the plan (a
    * 1-row aggregate), never collects data.
    */
  def absentRange(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long): DataFrame =
    windowedSamples(metric, matchers, start, end, Nil, 0L, None, 0L,
        whole = true)._1
      .agg(count(lit(1)).as("n_present"))
      .where(col("n_present") === 0L)
      .select(lit(1.0).as("value"))

  /** PromQL `histogram_quantile(phi, sum by (labels, le) (metric[step]))`
    * over raw observations bucketed at query time: each sample lands in its
    * smallest `le >= value` cumulative bucket (map-side `when` chain), per
    * (label subset, step bucket, le) counts are ONE hash aggregation, and
    * the Prometheus interpolation runs as a window over the tiny aggregated
    * bucket table ordered by `le`. Semantics match Prometheus
    * `bucketQuantile`: linear interpolation inside the crossing bucket, a
    * lower bound of 0 for the first finite bucket, and the highest finite
    * `le` when the rank falls in the `+Inf` bucket.
    *
    * Exchanges: the corpus-sized one keys the full group (labels, bucket,
    * le); the window shuffles only `groups × |buckets|` aggregated rows.
    * All interpolation arithmetic is (long, literal-double) IEEE ops in a
    * fixed order, so results are bit-reproducible across engines.
    */
  def histogramQuantile(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long,
      byLabels: Seq[String],
      stepSec: Long,
      phi: Double,
      buckets: Seq[Double],
      offsetSec: Long = 0L): DataFrame = {
    require(phi > 0 && phi < 1, s"phi must be in (0,1): $phi")
    require(buckets.nonEmpty && buckets == buckets.sorted,
      "bucket bounds must be ascending")
    val le = buckets.foldRight(lit(Double.PositiveInfinity): Column) {
      (b, rest) => when(col("value") <= b, lit(b)).otherwise(rest)
    }
    // the tumbling [[windowedSamples]]: offset shifts the scanned
    // window back and reports buckets at the REQUESTED grid
    val (keyed, keys) = windowedSamples(metric, matchers, start, end,
      byLabels, stepSec, None, offsetSec)
    val grouped = keyed
      .withColumn("le", le)
      .groupBy(keys :+ col("le"): _*)
      .agg(count(lit(1)).as("cnt"))
    val part = byLabels.map(col) :+ col("bucket_start")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*).orderBy("le")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*)
    val lo = coalesce(col("prev_le"), lit(0.0))
    grouped
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("total", sum("cnt").over(wAll))
      .withColumn("prev_cum", coalesce(lag("cum", 1).over(w), lit(0L)))
      .withColumn("prev_le", lag("le", 1).over(w))
      .withColumn("target", lit(phi) * col("total"))
      // exactly one crossing row per group: cum is strictly increasing
      // (every present le has cnt > 0) and 0 < target <= total
      .where(col("cum") >= col("target") && col("prev_cum") < col("target"))
      .withColumn("q",
        when(col("le") === lit(Double.PositiveInfinity), lit(buckets.last))
          .otherwise(lo +
            (col("le") - lo) * (col("target") - col("prev_cum")) / col("cnt")))
      .select(part ++ Seq(col("total").as("n"), col("q")): _*)
  }

  /** QuerySeries (reference tsdb.go:323-350): distinct matching label sets
    * whose series overlap `[start, end]`. Runs on the small series_meta
    * dimension only — never touches the fact table.
    */
  def querySeries(
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long): DataFrame =
    seriesMeta(matchers)
      .where(col("minTs") <= end && col("maxTs") >= start)
      .select("sid", "metric", "labels")

  /** QueryLabelValues (reference tsdb.go:352-370): sorted distinct values of
    * one label within the time range.
    *
    * Default matches the reference's semantics EXACTLY: the range is
    * honored at segment grain (tsdb.go:352-360 / label.go:62-77 — a value
    * is returned iff some sample carries it in a segment overlapping the
    * window), served from the label→value-set tier the write path
    * maintains per batch (the reference's `labelValueSet`, label.go:40-77,
    * updated on every insert, memory_segment.go:93-96), which holds each
    * pair once per segment. Cost is O(distinct (seg, value) pairs of THIS
    * label in the pruned segments), plus the copies a store written
    * before that rule holds until [[compactLabelValues]]: the scan is
    * seg-partition-pruned and `name`-pushed-down, never touches the fact
    * table or the O(series) dimension — flat in series count for
    * low-cardinality labels. Stores written before the tier existed fall
    * back to an equivalent fact-table plan until [[compactSeriesMeta]]
    * backfills the tier.
    *
    * `exact = true` opts into exact `ts`-range semantics — strictly
    * tighter than segment grain (a value whose samples sit in the queried
    * segments but outside [start, end] contributes under segment grain
    * but not under exact) — by scanning the pruned fact table; at wide
    * ranges that scan dominates (~12s vs ~1s at x100), which is why it is
    * the opt-in.
    *
    * NOTE (migration): before round 11 the DEFAULT was the exact path;
    * rounds 11-12 served series-span overlap (a superset of the
    * reference); round 13 tightened the default to the reference's
    * segment grain.
    */
  def queryLabelValues(
      label: String,
      start: Long,
      end: Long,
      exact: Boolean = false): DataFrame =
    if (exact)
      samples
        .where(segPredicate(start, end))
        .where(col("ts").between(start, end))
        .select("sid")
        .distinct() // a sid has one label set: dedupe before the lookup
        .join(dimHint(seriesMeta.select("sid", "labels")), "sid")
        .select(col("labels").getItem(label).as("value"))
        .where(col("value").isNotNull)
        .distinct()
        .orderBy("value")
    else {
      val headVals = memHead.map(
        _.where(segPredicate(start, end))
          .select(col("labels").getItem(label).as("value"))
          .where(col("value").isNotNull))
      val diskVals =
        if (conf.onlyMemoryMode) None
        else if (pathExists(labelValuesPath))
          Some(spark.read.schema(labelValuesSchema).parquet(labelValuesPath)
            .where(segPredicate(start, end) && col("name") === label)
            .select("value"))
        else if (pathExists(samplesPath))
          // pre-tier store: same segment-grain semantics off the fact
          // table (one-off migration cost; compactSeriesMeta backfills)
          Some(samplesWithLabels
            .where(segPredicate(start, end))
            .select(col("labels").getItem(label).as("value"))
            .where(col("value").isNotNull))
        else None
      (diskVals, headVals) match {
        case (Some(d), Some(h)) =>
          d.unionByName(h).distinct().orderBy("value")
        case (Some(d), None) => d.distinct().orderBy("value")
        case (None, Some(h)) => h.distinct().orderBy("value")
        case (None, None) => // preserve the read-of-missing-path error
          spark.read.schema(labelValuesSchema).parquet(labelValuesPath)
            .select("value")
      }
    }

  /** Label NAMES present in the range (Prometheus `/api/v1/labels`;
    * beyond the reference's API, which only exposes per-label values,
    * tsdb.go:352-370) — the same segment-grain range semantics as the
    * [[queryLabelValues]] default, served from the label→value-set tier:
    * a pruned, column-pruned scan over (seg, name) distinct — O(distinct
    * pairs in the window), no fact or dimension IO. Same fallbacks as
    * the values path (head, pre-tier fact scan).
    */
  def queryLabelNames(start: Long, end: Long): DataFrame = {
    val headNames = memHead.map(
      _.where(segPredicate(start, end))
        .select(explode(map_keys(col("labels"))).as("name")))
    val diskNames =
      if (conf.onlyMemoryMode) None
      else if (pathExists(labelValuesPath))
        Some(spark.read.schema(labelValuesSchema).parquet(labelValuesPath)
          .where(segPredicate(start, end))
          .select("name"))
      else if (pathExists(samplesPath))
        Some(samplesWithLabels
          .where(segPredicate(start, end))
          .select(explode(map_keys(col("labels"))).as("name")))
      else None
    (diskNames, headNames) match {
      case (Some(d), Some(h)) => d.unionByName(h).distinct().orderBy("name")
      case (Some(d), None) => d.distinct().orderBy("name")
      case (None, Some(h)) => h.distinct().orderBy("name")
      case (None, None) =>
        spark.read.schema(labelValuesSchema).parquet(labelValuesPath)
          .select("name")
    }
  }

  /** Per-segment stats — the reference's `Desc` metadata written at flush
    * time (segment.go:31-36: seriesCount, dataPointsCount, minTs, maxTs) as
    * one aggregation over the fact table. `countDistinct(sid)` is exact
    * (not a sketch), mirroring the reference's per-segment series count.
    */
  def segmentStats: DataFrame =
    samples
      .groupBy("seg")
      .agg(
        count(lit(1)).as("n_points"),
        countDistinct(col("sid")).as("n_series"),
        min("ts").as("min_ts"),
        max("ts").as("max_ts"))

  /** Fold the fresh series_meta generations (L0) — the inline
    * `metaCompactEvery` cadence job. The rule, on the levels' bytes
    * before the fold:
    *  - while the folded level (L1) and L0 each hold under
    *    [[MetaCatchUpRatio]] of the base's bytes, merge ONLY L0 and
    *    append it to L1: O(rows appended since the last fold),
    *    independent of total series count, and earlier folded
    *    generations are never re-merged (the 10M-series churn failure
    *    mode was a fold re-merging all 15M meta rows, 20-30 s spikes).
    *    L1 then stays under half the base plus this one fold. A crash
    *    between the L1 append and the L0 clear leaves duplicated rows,
    *    which the read-side merge collapses idempotently.
    *  - once L1 has caught up with the base (accumulated churn), or L0
    *    alone has (the scrape shape, every series in every batch, where
    *    a delta-only fold would add a full generation to L1), merge
    *    base ∪ L1 ∪ L0 into a new base through the crash-safe swap of
    *    [[compactSeriesMeta]]. The base is then at most twice the delta,
    *    so the rewrite reads at most 3× the rows touched since the base
    *    was last written, and the levels stay bounded instead of growing
    *    with the batch count.
    * Either branch deletes or renames meta files while the store stays
    * open: a DataFrame built before a fold has listed the old files and
    * must be rebuilt before it runs, as after [[compactSeriesMeta]].
    */
  def foldMetaDelta(): Unit = {
    if (conf.onlyMemoryMode || !pathExists(metaPath)) return
    val (base, l1, l0) = metaBytes
    if (math.max(l1, l0) >= base * MetaCatchUpRatio) rewriteMetaBase()
    else {
      mergedMeta(spark.read.schema(metaSchema).parquet(metaPath))
        .coalesce(4)
        .write.mode("append")
        .option("compression", conf.compression)
        .parquet(metaFoldedPath)
      if (!fs.delete(new org.apache.hadoop.fs.Path(metaPath), true))
        logWarning(s"meta fold: could not clear L0 $metaPath " +
          "(reads stay correct; next fold retries)")
      metaGenerations = 0
      metaBytesCache = None
    }
  }

  /** Full series-meta consolidation: merge base ∪ delta into a fresh
    * one-row-per-sid base level and clear the delta — the scheduled
    * maintenance job (like [[compactSegments]]) bounding metadata growth
    * that the reference explicitly lacks (no compaction, README.md:36-40).
    * Cost is O(total series); the ingest path runs the meta part only
    * once the delta has caught up with the base ([[foldMetaDelta]]).
    * Also consolidates (or, for stores created before the tier existed,
    * backfills) the label→value-set tier.
    */
  def compactSeriesMeta(): Unit = {
    if (conf.onlyMemoryMode) return
    rewriteMetaBase()
    compactLabelValues()
  }

  /** Merge every series-meta level into a fresh one-row-per-sid base and
    * clear the delta. Crash-safe: the delta is deleted only after the new
    * base is live, and a leftover delta re-merges idempotently
    * (min/max/first are stable under duplicated rows).
    */
  private def rewriteMetaBase(): Unit = {
    val levels = Seq(metaBasePath, metaFoldedPath, metaPath)
      .filter(pathExists)
    if (levels.nonEmpty && levels != Seq(metaBasePath)) {
      val all = levels.map(spark.read.schema(metaSchema).parquet(_))
        .reduce(_ unionByName _)
      val tmp = metaBasePath + ".compact"
      mergedMeta(all)
        .coalesce(4)
        .write.mode("overwrite")
        .option("compression", conf.compression)
        .parquet(tmp)
      swapInPlace(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(metaBasePath))
      Seq(metaFoldedPath, metaPath).filter(pathExists).foreach { d =>
        if (!fs.delete(new org.apache.hadoop.fs.Path(d), true))
          logWarning(s"compaction: could not clear delta $d " +
            "(reads stay correct; next compaction retries)")
      }
      metaGenerations = 0
      metaBytesCache = None
    }
  }

  /** Consolidate the label→value-set tier: distinct pairs, few files per
    * segment. Ingest already appends each pair once per segment, so this
    * removes only the copies of a store written before that rule, and
    * merges the per-batch files. For stores written before the tier
    * existed (no `label_values` directory but durable samples), BACKFILLS
    * it from the fact table — one O(fact) scan, after which
    * [[queryLabelValues]] serves from the tier.
    */
  def compactLabelValues(): Unit = {
    if (conf.onlyMemoryMode) return
    if (pathExists(labelValuesPath)) {
      val tmp = labelValuesPath + ".compact"
      spark.read.schema(labelValuesSchema).parquet(labelValuesPath)
        .distinct()
        .repartition(col("seg"))
        .sortWithinPartitions("name", "value")
        .write.mode("overwrite")
        .option("compression", conf.compression)
        .partitionBy("seg")
        .parquet(tmp)
      swapInPlace(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(labelValuesPath))
    } else if (pathExists(samplesPath)) {
      spark.read.schema(factSchema).parquet(samplesPath)
        .select("seg", "sid").distinct()
        .join(seriesMeta.select("sid", "labels"), "sid")
        .select(col("seg"), explode(col("labels")).as(Seq("name", "value")))
        .distinct()
        .repartition(col("seg"))
        .sortWithinPartitions("name", "value")
        .write.mode("overwrite")
        .option("compression", conf.compression)
        .partitionBy("seg")
        .parquet(labelValuesPath)
    }
  }

  /** Crash-safe directory swap: rename the live dir aside, rename the
    * rewritten dir in, then drop the old copy — every intermediate state
    * leaves either the old or the new data under a recoverable name
    * (`.trash_*` keeps the old generation until the swap has succeeded),
    * unlike a delete-then-rename whose mid-crash state has the live path
    * gone entirely. Both renames are single metadata ops on HDFS-like
    * stores; their return values are checked and a failure aborts loudly
    * with the data intact.
    */
  private def swapInPlace(
      tmp: org.apache.hadoop.fs.Path,
      live: org.apache.hadoop.fs.Path): Unit = {
    val trash = new org.apache.hadoop.fs.Path(
      live.getParent, s".trash_${live.getName}")
    if (fs.exists(trash) && !fs.delete(trash, true))
      sys.error(s"compaction: cannot clear stale $trash")
    if (!fs.exists(live)) { // first materialization: nothing to swap aside
      if (!fs.rename(tmp, live))
        sys.error(s"compaction: rename $tmp -> $live failed")
      return
    }
    if (!fs.rename(live, trash))
      sys.error(s"compaction: rename $live -> $trash failed; store untouched")
    if (!fs.rename(tmp, live)) {
      // roll back so readers keep the old generation
      fs.rename(trash, live)
      sys.error(s"compaction: rename $tmp -> $live failed; rolled back")
    }
    if (!fs.delete(trash, true))
      logWarning(s"compaction: could not remove $trash (data already live)")
  }

  private def logWarning(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)

  /** Segment compaction: rewrite the append-accumulated files inside each
    * frozen segment partition into at most `filesPerSeg` files, re-sorted
    * by (sid, ts). Every durable append (insertRows batch, streaming
    * micro-batch, head flush) adds files to its seg directories; at fleet
    * scale that is the small-files failure mode — a month of 30 s
    * micro-batches is ~90k files per segment, and scan parallelism drowns
    * in open/seek overhead. Compaction restores the write-once layout the
    * reference gets by construction (its segments are sealed at freeze,
    * tsdb.go:242-265, and never appended) while keeping our append
    * availability. The rewrite also restores per-series (sid, ts) point
    * locality across what were separate appends — parquet delta-encoding
    * and sid row-group stats work best on the merged run.
    *
    * Each segment is rewritten independently (read seg dir → sort →
    * write sibling tmp → crash-safe [[swapInPlace]]), so a compaction pass
    * is trivially parallelizable across segments and never blocks reads
    * for longer than one rename. Returns the seg ids compacted.
    *
    * Writer safety: compaction and ingest must not interleave on the same
    * segment — an append landing between the compaction read and the swap
    * would be dropped with the old directory. A `Tsdb` instance is
    * single-writer (calls on one driver thread; a call that writes
    * concurrently inside, like this one or [[insertRows]], returns or
    * throws only after all of its writes have ended), which rules the
    * race out in-process; multi-writer deployments must quiesce ingest
    * for the segments being compacted (e.g. compact only segments older
    * than the active ingest window), exactly as any rewrite-based table
    * maintenance (OPTIMIZE/vacuum) requires.
    */
  def compactSegments(filesPerSeg: Int = 1, parallelism: Int = 8): Seq[Long] = {
    if (conf.onlyMemoryMode) return Seq.empty
    require(filesPerSeg >= 1, s"filesPerSeg must be >= 1: $filesPerSeg")
    val candidates = listSegDirs().filter { case (_, p) =>
      fs.listStatus(p).count(st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")) > filesPerSeg
    }
    if (candidates.isEmpty) return Seq.empty
    // segment rewrites are independent single-partition-dir jobs; run them
    // concurrently, at most `parallelism` at a time, so a many-segment pass
    // is limited by executor throughput, not by job-scheduling latency —
    // and a failed rewrite surfaces only once every other one has ended
    concurrently(parallelism)(candidates.map { case (seg, p) => () =>
      // tmp lives OUTSIDE the partition tree (dot-prefixed sibling of
      // samples/): concurrent partition discovery never sees a
      // non-`seg=<n>` directory mid-rewrite
      val tmp = new org.apache.hadoop.fs.Path(
        s"${conf.dataPath}/.compact_seg_$seg")
      spark.read.schema(factSchema).parquet(p.toString)
        .repartition(filesPerSeg)
        .sortWithinPartitions("sid", "ts")
        .write.mode("overwrite")
        .option("compression", conf.compression)
        .parquet(tmp.toString)
      swapInPlace(tmp, p)
      seg
    })
  }

  /** Materialize a Gorilla chunk tier: every (sid, seg) group's points
    * packed into one dod+XOR block (the VLDB'15 codec in
    * [[graft.functions.Gorilla]]), stored as a binary column in
    * seg-partitioned parquet — the reference's ACTUAL storage design
    * (per-series Gorilla blocks inside segments, memory_segment.go)
    * re-expressed as a columnar table of compressed chunks. At ~1.37
    * bytes/point (the paper's average) this is the long-retention cold
    * tier: seg partition pruning still applies, and
    * [[queryRangeFromChunks]] decodes only the pruned chunks.
    */
  def materializeGorillaChunks(): String = {
    val path = s"${conf.dataPath}/gorilla_chunks"
    val pack = org.apache.spark.sql.functions.udaf(
      new graft.operators.GorillaAggregator)
    samples
      .select("sid", "seg", "ts", "value")
      .groupBy("sid", "seg")
      .agg(
        count(lit(1)).as("n_points"),
        pack(col("ts"), col("value")).as("block"))
      .repartition(col("seg"))
      .write.mode("overwrite")
      .option("compression", conf.compression)
      .partitionBy("seg")
      .parquet(path)
    path
  }

  /** [[queryRange]] served from the Gorilla chunk tier: prune chunk
    * partitions by `seg`, decode only the surviving blocks (distributed
    * flatMap — the one genuinely imperative step, a custom bitstream),
    * then the usual ts filter + matcher semi-join. Row-identical to
    * [[queryRange]] on the raw store (shared oracle): the codec is
    * lossless and the tier covers every sample AS OF its
    * [[materializeGorillaChunks]] — like any materialized tier it is a
    * snapshot; appends after the materialize serve from the raw/head
    * path until the next pack run (same freshness contract as the
    * rollup tier's rebuild mode).
    */
  def queryRangeFromChunks(
      metric: String,
      matchers: Seq[LabelMatcher],
      start: Long,
      end: Long): DataFrame = {
    val all = LabelMatcher.eq(MetricLabel, metric) +: matchers
    val chunks = spark.read.parquet(s"${conf.dataPath}/gorilla_chunks")
      .where(segPredicate(start, end))
    val pts = graft.operators.GorillaPack
      .unpackToPoints(chunks, "sid", "block")
      .where(col("ts").between(start, end))
    val matching = seriesMeta(all).select("sid", "labels")
    pts
      .join(dimHint(matching), "sid")
      .select("sid", "labels", "ts", "value")
  }

  /** Retention expiry (reference tsdb.go:384-406): whole-partition drop of
    * buckets older than `retention` — the "all-in" delete the reference
    * performs per segment, here a partition-directory removal.
    */
  def removeExpires(nowSeconds: Long): Seq[Long] = {
    val cutoffSeg = (nowSeconds - conf.retention) / conf.segmentDuration
    // the live head (either mode) expires by filter; headRows must track
    // the eviction or the maxRowsPerSegment trigger fires on ghost rows
    // (and flushHead would write an empty append for a fully-expired head)
    memHead = memHead.map(_.where(col("seg") >= cutoffSeg))
    if (headRows > 0) headRows = memHead.map(_.count()).getOrElse(0L)
    if (conf.onlyMemoryMode) return Seq.empty
    // derived tiers are seg-partitioned on the SAME bucket ids as the
    // fact store (rollup bucket_start and chunk blocks both derive seg
    // via segOf), so the one sweep expires them too — otherwise the
    // "cheap" tiers grow forever while the raw data they downsample is
    // long gone, the classic unbounded-cold-tier leak
    val base = new org.apache.hadoop.fs.Path(conf.dataPath)
    if (fs.exists(base)) fs.listStatus(base)
      .filter(st => st.isDirectory && {
        val n = st.getPath.getName
        n.startsWith("rollup_") || n == "gorilla_chunks" ||
          n == "label_values"
      })
      .foreach { tier =>
        fs.listStatus(tier.getPath)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
          .foreach { segDir =>
            val seg = segDir.getPath.getName.stripPrefix("seg=").toLong
            if ((seg + 1) * conf.segmentDuration <= nowSeconds - conf.retention)
              fs.delete(segDir.getPath, true)
          }
      }
    listSegDirs().flatMap { case (seg, path) =>
      // expire when the bucket's max possible ts is older than cutoff,
      // i.e. the whole segment is out of retention (tsdb.go:393-396)
      if ((seg + 1) * conf.segmentDuration <= nowSeconds - conf.retention) {
        fs.delete(path, true)
        Some(seg)
      } else None
    }
  }

  /** Background retention sweeper — the reference's 5-minute expiry ticker
    * (tsdb.go:383-406, started at tsdb.go:483) as a daemon scheduled
    * executor wrapping [[removeExpires]]. Runs on the Spark driver like any
    * maintenance job; at cluster scale the same sweep is typically an
    * external cron, which this replaces for long-lived driver processes.
    *
    * @param clock injectable now-epoch-seconds source (tests tick it)
    */
  def startRetentionLoop(
      periodSec: Long = 300L,
      clock: () => Long = () => System.currentTimeMillis() / 1000L): Unit =
    synchronized {
      if (retentionExec.isEmpty) {
        val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
          (r: Runnable) => {
            val t = new Thread(r, "graft-retention-sweep")
            t.setDaemon(true)
            t
          })
        ex.scheduleAtFixedRate(
          () => try removeExpires(clock())
          catch { case _: Throwable => () }, // sweep failures must not kill the ticker
          periodSec, periodSec, java.util.concurrent.TimeUnit.SECONDS)
        retentionExec = Some(ex)
      }
    }

  /** Stop the [[startRetentionLoop]] ticker (idempotent). */
  def stopRetentionLoop(): Unit = synchronized {
    retentionExec.foreach(_.shutdownNow())
    retentionExec = None
  }

  private var retentionExec:
    Option[java.util.concurrent.ScheduledExecutorService] = None

  /** Streaming queries writing into this store, registered by
    * [[graft.streaming.Ingest]] starters so [[close]] can drain them.
    */
  private val activeQueries = scala.collection.mutable.ArrayBuffer
    .empty[org.apache.spark.sql.streaming.StreamingQuery]

  private[graft] def registerQuery(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    synchronized { activeQueries += q }

  /** Graceful shutdown — the reference's `Close()` (tsdb.go:372-382:
    * drain the write queue, flush the head, seal segments) in one call:
    * drain and stop every registered streaming ingest query, stop the
    * retention ticker, and freeze the in-memory head to parquet. After
    * `close()` returns, every acknowledged row is durable; a Tsdb
    * reopened on the same path serves all of it. Idempotent — a second
    * call finds nothing to drain.
    */
  def close(): Unit = {
    val qs = synchronized {
      val snap = activeQueries.toList
      activeQueries.clear()
      snap
    }
    qs.foreach { q =>
      try {
        if (q.isActive) { q.processAllAvailable(); q.stop() }
      } catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"close: streaming query ${q.id} failed to drain: $e")
      }
    }
    stopRetentionLoop()
    flushHead()
  }

  // ------------------------------------------------------------- predicates

  private def segPredicate(start: Long, end: Long): Column = {
    val s = Math.floorDiv(start, conf.segmentDuration)
    val e = Math.floorDiv(end, conf.segmentDuration)
    // inclusive bounds on both sides — the reference's strict-comparison
    // overlap test misses exactly-aligned boundaries (segment.go:71-85);
    // we deliberately do not replicate that off-by-one (SURVEY §7.4).
    col("seg").between(s, e)
  }

  /** Instance alias of [[Tsdb.matcherPredicate]] — the predicate is pure
    * (a Column function of plan-time constants), hoisted to the companion
    * so streaming consumers can build it without a Tsdb instance. */
  def matcherPredicate(labels: Column, matchers: Seq[LabelMatcher]): Column =
    Tsdb.matcherPredicate(labels, matchers)

  /** Matcher predicate for a fact frame that carries the normalized
    * `metric` column: `labels[__name__] == metric` by construction
    * ([[graft.functions.LabelFunctions.foldMetric]] under LAST_WIN —
    * the last-folded entry always wins, NULL included), so `__name__`
    * matchers evaluate against the plain string column. On the attached
    * in-memory head the label map is a chain of higher-order functions
    * (map_filter/map_concat — CodegenFallback, interpreted, and excluded
    * from codegen subexpression elimination), which a scan-stage Filter
    * re-evaluated once per conjunct per row; the plain column form also
    * pushes the metric equality into the parquet scan
    * (PushedFilters: EqualTo(event_type, …) via the alias chain), so
    * non-matching rows never build a label map at all. Value-identical.
    */
  private def factMatcherPredicate(
      df: DataFrame, matchers: Seq[LabelMatcher]): Column =
    if (df.columns.contains("metric")) metricColumnPredicate(matchers)
    else Tsdb.matcherPredicate(col("labels"), matchers)

  /** Matcher predicate over a frame that carries the plain `metric`
    * column beside `labels` (normalized samples, every series-meta
    * level): `__name__` resolves to `metric` (see [[factMatcherPredicate]]
    * for why that is value-identical and faster). */
  private def metricColumnPredicate(matchers: Seq[LabelMatcher]): Column =
    Tsdb.matcherPredicateWith(
      n => if (n == Tsdb.MetricLabel) col("metric")
           else col("labels").getItem(n),
      matchers)
}

object Tsdb {
  /** The label-map type of the tiers that store label sets, as parquet
    * reads it back. */
  private val LabelsType = MapType(StringType, StringType)
  val MetricLabel: String = graft.functions.LabelFunctions.MetricLabel

  /** Session broadcast threshold in bytes,
    * `spark.sql.autoBroadcastJoinThreshold` (negative = user disabled
    * broadcast joins entirely; honored).
    */
  private[graft] def broadcastThresholdBytes(spark: SparkSession): Long = {
    val s = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    if (s.startsWith("-")) -1L
    else
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
      catch { case _: NumberFormatException => 10L * 1024 * 1024 }
  }

  // ---- range-function kernels: each window convention the oracles pin
  // ---- is written once here; the range functions compose them

  /** The engine's cross-engine rounding contract, tie-free
    * `floor(x·1e6 + 0.5)/1e6`: the same IEEE op sequence in Spark,
    * DuckDB and the streaming twin (CounterState.floorR6). Spark round()
    * is BigDecimal HALF_UP and DuckDB round() float half-away; they
    * diverge on products that land exactly on .5. It also clamps the
    * −epsilon variance artifact to exactly 0. Users: the sliding rates,
    * the quantized avg/spread/MAD moments, the subquery `result6` inner
    * (PromQL) and the rate-outer entry query (SparkEntry). */
  private[graft] def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  /** `labels[l] AS l` for each grouping label. */
  private def labelCols(byLabels: Seq[String]): Seq[Column] =
    byLabels.map(l => col("labels").getItem(l).as(l))

  /** The tumbling bucket of `ts`: `ts − pmod(ts, stepSec)`. The rollup
    * writers (materializeRollup, appendRollupPartials) key on it. */
  private def bucketStart(stepSec: Long): Column =
    col("ts") - pmod(col("ts"), lit(stepSec))

  /** The `bucket_start` key of the tumbling range functions: an offset
    * query scans the window `offsetSec` back and reports its buckets
    * `offsetSec` forward, at the REQUESTED grid. */
  private def bucketKey(stepSec: Long, offsetSec: Long): Column =
    (bucketStart(stepSec) + offsetSec).as("bucket_start")

  /** First and last point of the eval grid `k·stepSec` within
    * `[start, end]`. */
  private def evalGrid(start: Long, end: Long, stepSec: Long): (Long, Long) =
    (Math.floorDiv(start + stepSec - 1, stepSec) * stepSec,
      Math.floorDiv(end, stepSec) * stepSec)

  /** THE sliding-window membership rule: a row at `tsCol` = ts belongs
    * to eval point E iff `ts ≤ E < ts + rangeSec` (PromQL's
    * `(E − range, E]` lookback), E on the [[evalGrid]] of
    * `[start, end]`. Each row explodes map-side into the at most
    * `rangeSec/stepSec + 1` eval points whose windows hold it (`outCol`,
    * via `e0`/`e1`); a row whose window set misses the grid is dropped
    * BEFORE the explode (sequence() rejects inverted bounds). Integer
    * arithmetic throughout. Overlapping windows cost this fixed explode
    * factor, never a shuffle or a self-join per window — the trade
    * Structured Streaming's sliding `window()` makes. Users: the class's
    * windowedSamples (every sliding raw-sample function and, through
    * it, absentOverTime) and the subquery outers overTimeOnFrame and
    * counterOverFrame. */
  private[graft] def explodeEvalGrid(
      frame: DataFrame,
      tsCol: String,
      start: Long,
      end: Long,
      stepSec: Long,
      rangeSec: Long,
      outCol: String): DataFrame = {
    require(rangeSec > 0 && stepSec > 0, "rangeSec and stepSec must be > 0")
    val (gridStart, gridEnd) = evalGrid(start, end, stepSec)
    val firstEval =
      floor((col(tsCol) + (stepSec - 1)) / lit(stepSec)).cast("long") * stepSec
    val lastEval =
      floor((col(tsCol) + (rangeSec - 1)) / lit(stepSec)).cast("long") * stepSec
    frame
      .withColumn("e0", greatest(firstEval, lit(gridStart)))
      .withColumn("e1", least(lastEval, lit(gridEnd)))
      .where(col("e0") <= col("e1"))
      .withColumn(outCol, explode(sequence(col("e0"), col("e1"), lit(stepSec))))
  }

  /** The reset-robust counter lag over raw samples: `v` is the value as
    * decimal(18,2), `prev` the series' previous sample (lag over `key`
    * in `order`; the default (ts, value) order is deterministic — rows
    * tying on both carry equal values, so any interleaving gives the
    * same pairs), and `delta` is `v − prev`, or `v` after a drop (a
    * restarted counter counts its new value); both null on a series'
    * first sample. Callers filter: the increase family on `delta`,
    * resets/changes on `prev`. Users: the `prep` of windowedSamples in
    * counterSeries and in PromQL's resets/changes (both grids), and
    * EventOps.counterIncrease. */
  private[graft] def counterLag(
      samples: DataFrame,
      key: String = "sid",
      order: Seq[Column] = Seq(col("ts"), col("value")),
      valueCol: String = "value"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(order: _*)
    samples
      .withColumn("v", col(valueCol).cast("decimal(18,2)"))
      .withColumn("prev", lag("v", 1).over(w))
      .withColumn("delta",
        when(col("prev").isNull, lit(null))
          .when(col("v") >= col("prev"), col("v") - col("prev"))
          .otherwise(col("v")))
  }

  /** Per `keys` over [[counterLag]] pairs: the pair count `n_deltas`,
    * `resets` (drops) and `changes` (any value change, the DECIMAL
    * compare). Users: gaugeAggregate's `resets_changes` (both grids). */
  private def countResetsChanges(pairs: DataFrame, keys: Seq[Column])
      : DataFrame =
    pairs.groupBy(keys: _*).agg(
      count(lit(1)).as("n_deltas"),
      sum(when(col("v") < col("prev"), 1L).otherwise(0L)).as("resets"),
      sum(when(col("v") =!= col("prev"), 1L).otherwise(0L)).as("changes"))

  /** Stage (b) of the counter family: [[Tsdb.counterSeries]]'s
    * per-series increases aggregated across series to (`byLabels`, t),
    * t being the `bucket_start` (tumbling) or `eval_ts` (sliding) that
    * stage (a) emitted. `op` picks the shape and its columns:
    *  - `sum`: `increase` and `rate_per_sec` (the increase over
    *    `rangeSec`); the sliding form leads with its delta-row count `n`;
    *  - tumbling `avg`/`min`/`max`/`count`: `n_series` and the
    *    `{sum,avg,min,max}_increase` moments, plus `*_rate` when `rate`;
    *  - tumbling `quantile`: `n_series`, `q_increase` and `q_rate`
    *    (quantile is monotone, so the rate is the increase's over the
    *    range);
    *  - sliding `avg`/`min`/`max`/`count`/`stddev`/`stdvar`/`quantile`:
    *    the moments of each series' value (its rate when `rate`, else
    *    its increase) — `n_series`, `sum_v`, `avg_v`, `min_v`, `max_v`,
    *    `q_v` for a quantile, `stdvar_v`, `stddev_v`.
    * Rounding: round(…, 6) on the tumbling grid, [[r6]] on the sliding
    * one. Increases stay decimal until the final cast (a sum of
    * per-series decimal sums is exact). topk/bottomk are [[firstK]]
    * over `sum`. */
  private[graft] def counterAggregate(
      perSeries: DataFrame,
      byLabels: Seq[String],
      rangeSec: Long,
      op: String,
      rate: Boolean,
      q: Option[Double] = None): DataFrame = {
    q.foreach(v => require(v >= 0 && v <= 1, s"quantile must be in [0,1]: $v"))
    val sliding = perSeries.columns.contains("eval_ts")
    val keys =
      byLabels.map(col) :+ col(if (sliding) "eval_ts" else "bucket_start")
    def agg(from: DataFrame, aggs: Seq[Column]) =
      distinctColumns(from.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
    def perSec(c: Column) =
      if (sliding) r6(c / rangeSec) else round(c / rangeSec, 6)
    val total = sum(col("__inc")).cast("double")
    val inc = col("__inc").cast("double")
    distinctColumns((op, sliding) match {
      case ("sum", _) =>
        agg(perSeries, (if (sliding) Seq(sum(col("__n")).as("n")) else Nil) ++
          Seq(total.as("increase"), perSec(total).as("rate_per_sec")))
      case ("quantile", false) =>
        val p = percentile(inc, lit(q.get))
        agg(perSeries, Seq(count(lit(1)).as("n_series"),
          round(p, 6).as("q_increase"), perSec(p).as("q_rate")))
      case (_, false) =>
        val moments = agg(perSeries, Seq(
          count(lit(1)).as("n_series"),
          total.as("sum_increase"),
          (total / count(lit(1))).as("avg_increase"),
          min(col("__inc")).cast("double").as("min_increase"),
          max(col("__inc")).cast("double").as("max_increase")))
        if (!rate) moments
        else moments.select(col("*") +: Seq("sum", "avg", "min", "max")
          .map(m => perSec(col(s"${m}_increase")).as(s"${m}_rate")): _*)
      case (_, true) =>
        // the per-series value is quantized (r6 rate / 2-decimal
        // increase), so its integer micros sum losslessly: the spread
        // runs on them in the DuckDB mirror's IEEE op order
        val valued = perSeries
          .withColumn("__v", if (rate) perSec(inc) else inc)
          .withColumn("__m", round(col("__v") * 1e6).cast("long"))
        val vSum = sum(col("__v").cast("decimal(28,10)")).cast("double")
        val n = col("n_series").cast("double")
        val meanM = col("__sum_m").cast("double") / n
        val stdvar =
          (col("__sum2_m").cast("double") / n - meanM * meanM) / 1e12
        agg(valued, Seq(
            count(lit(1)).as("n_series"),
            vSum.as("sum_v"),
            // floor-r6 quantized, so the mean re-enters the micro family
            // (spread/counter outers over an avg inner stay lossless)
            r6(vSum / count(lit(1))).as("avg_v"),
            min(col("__v")).as("min_v"),
            max(col("__v")).as("max_v"),
            sum(col("__m")).as("__sum_m"),
            sum(col("__m").cast("decimal(19,0)") *
              col("__m").cast("decimal(19,0)")).as("__sum2_m")) ++
            q.map(p => round(percentile(col("__v"), lit(p)), 6).as("q_v")))
          .select(col("*"), r6(stdvar).as("stdvar_v"),
            r6(sqrt(stdvar)).as("stddev_v"))
          .drop("__sum_m", "__sum2_m")
    })
  }

  /** Stage (b) of the gauge family and the other raw-sample range
    * functions: [[Tsdb.windowedSamples]]' keyed raw samples aggregated
    * per group key — per series when `perSeries` (sid, then the keys;
    * sid leaves the output), the grain of the top-level `*_over_time`
    * functions, else at the keys' own grain (`byLabels`, t), the grain
    * of the aggregations and of the subquery inners. `op` picks the
    * shape and its columns:
    *  - `moments`: `n`, `sum_v`, `avg_v`, `min_v`, `max_v`, and on the
    *    sliding grid `last_v` plus the `ts_of_{max,min,last}_v`
    *    timestamps (callers project; an unread aggregate is pruned);
    *  - `spread`: `n`, `avg_v`, `stdvar`, `stddev` (`stdvar_v`,
    *    `stddev_v` on the sliding grid), population moments;
    *  - `quantile`: `n`, `q_v`, the exact percentile `q`;
    *  - `mad`: `n`, `mad_v`, the exact median absolute deviation;
    *  - `delta`: `n`, `delta`, the last minus the first sample;
    *  - `count_values`: the sample `value` joins the keys, `n` counts;
    *  - `resets_changes`: `n_deltas`, `resets`, `changes` over the
    *    [[counterLag]] pairs stage (a) prepped ([[countResetsChanges]]);
    *  - `last_two`: per series and t ([[lastTwoPair]]), the keys' labels,
    *    `sid`, t, `dt`, `idelta`, `irate`;
    *  - `trend`: `n`, `slope_per_sec`, `predicted` ([[trendFit]] on
    *    integer cents), x counting seconds from each window's end
    *    (`__end`), so the prediction `horizonSec` past it is at
    *    x = horizonSec. The fit's sums are exact integers, so the same
    *    bits come out for any origin inside the window.
    * Sums stay decimal until the final cast; the spread's moment sums
    * are exact integer cents in a fixed double op order mirrored 1:1 in
    * the oracles; round(…, 6), the MAD [[r6]]. topk/bottomk/limitk are
    * [[firstK]] over `moments`, limit_ratio a [[groupU32]] filter. */
  private[graft] def gaugeAggregate(
      framed: (DataFrame, Seq[Column]),
      perSeries: Boolean,
      op: String,
      q: Option[Double] = None,
      horizonSec: Long = 0L): DataFrame = {
    q.foreach(v => require(v >= 0 && v <= 1, s"quantile must be in [0,1]: $v"))
    val (frame, byKeys) = framed
    val sliding = frame.columns.contains("eval_ts")
    val keys = if (perSeries) col("sid") +: byKeys else byKeys
    def agg(from: DataFrame, aggs: Column*) =
      distinctColumns(from.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
    val n = count(lit(1)).as("n")
    val total = sum(col("value").cast("decimal(18,2)")).cast("double")
    val out = op match {
      case "moments" =>
        agg(frame, Seq(n, total.as("sum_v"),
          (total / count(lit(1))).as("avg_v"),
          min("value").as("min_v"), max("value").as("max_v")) ++
          (if (!sliding) Nil else Seq(
            // the newest sample; a ts tie breaks to the larger value
            // (max over an orderable struct, like DuckDB's struct max)
            max(struct(col("ts"), col("value"))).getField("value")
              .as("last_v"),
            // Prometheus 3.x ts_of_*: a value tie breaks to the LATEST
            // sample, so max over a value-first struct, and the min's
            // over the negated value (exact for doubles)
            max(struct(col("value").as("v"), col("ts").as("t")))
              .getField("t").cast("double").as("ts_of_max_v"),
            max(struct((-col("value")).as("v"), col("ts").as("t")))
              .getField("t").cast("double").as("ts_of_min_v"),
            max(col("ts")).cast("double").as("ts_of_last_v"))): _*)
      case "spread" =>
        // values carry 2 decimals, so they lift losslessly to integer
        // cents and both moment sums are exact longs
        val nD = col("n").cast("double")
        val meanC = col("__sc").cast("double") / nD
        val stdvar = (col("__sc2").cast("double") / nD - meanC * meanC) / 1e4
        val sfx = if (sliding) "_v" else ""
        agg(frame.withColumn("__c", round(col("value") * 100).cast("long")),
            n, sum(col("__c")).as("__sc"),
            sum(col("__c") * col("__c")).as("__sc2"))
          .select(col("*"), round(meanC / 100.0, 6).as("avg_v"),
            round(stdvar, 6).as(s"stdvar$sfx"),
            round(sqrt(stdvar), 6).as(s"stddev$sfx"))
          .drop("__sc", "__sc2")
      case "quantile" =>
        agg(frame, n, round(percentile(col("value"), lit(q.get)), 6).as("q_v"))
      case "mad" =>
        // a window median per group, then the median of the absolute
        // deviations: the groupBy reuses the window's hash partitioning
        val named = distinctColumns(
          frame.select((keys :+ col("value").as("__v")): _*))
        val groups = named.columns.toSeq.dropRight(1).map(col)
        named
          .withColumn("__med", percentile(col("__v"), lit(0.5)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(groups: _*)))
          .groupBy(groups: _*)
          .agg(n, r6(percentile(abs(col("__v") - col("__med")), lit(0.5)))
            .as("mad_v"))
      case "delta" =>
        // endpoints by (ts, value) order, so ties are exact duplicates
        val v = struct(col("ts"), col("v"))
        agg(frame.withColumn("v", col("value").cast("decimal(18,2)")), n,
          (max(v).getField("v") - min(v).getField("v")).cast("double")
            .as("delta"))
      case "count_values" =>
        frame.groupBy((keys :+ col("value")): _*).agg(n)
      case "resets_changes" => countResetsChanges(frame, keys)
      case "last_two" =>
        val t = if (sliding) "eval_ts" else "bucket_start"
        lastTwoPair(frame.select((keys.init ++ Seq(col("sid"), col("ts"),
            keys.last, col("value").cast("decimal(18,2)").as("v"))): _*),
            Seq(col("sid"), col(t)))
          .drop("ts", "v", "rk", "prev_ts", "prev_v")
      case "trend" =>
        val dec = "decimal(20,0)"
        val fit = trendFit(frame
            .withColumn("x", (col("ts") - col("__end")).cast(dec))
            .withColumn("yc",
              (col("value").cast("decimal(18,2)") * 100).cast(dec)),
          keys, "yc", 100.0, horizonSec)
        fit.select(fit.columns.take(keys.size).map(col) ++ Seq(
          col("n").cast("long").as("n"), col("slope_per_sec"),
          col("predicted")): _*)
      case other => throw new IllegalArgumentException(
        s"unknown gauge aggregation: $other")
    }
    val checked = distinctColumns(out)
    if (perSeries) checked.drop("sid") else checked
  }

  /** Stage (b)'s label guard: a `by` label may not share its name with
    * an output column (Spark matches names case-insensitively), or the
    * result carries two such columns and every read of one fails as
    * ambiguous. Group keys lead each frame, so the label comes first. */
  private def distinctColumns(df: DataFrame): DataFrame = {
    df.columns.groupBy(_.toLowerCase).values.find(_.length > 1).foreach {
      same => throw new IllegalArgumentException(
        s"by label '${same(0)}' collides with the output column " +
        s"'${same(1)}'; rename the label (label_replace) or drop it from " +
        "the grouping")
    }
    df
  }

  /** Stage (c): PromQL vector matching between two compiled sides, one
    * row per (labels, t) each, t being the `bucket_start` or `eval_ts`
    * both carry. `on` are the match labels; `group` the cardinality:
    * `one` (one-to-one), `left` (`group_left`, `b` the one side) or
    * `right` (`group_right`, `a` the one side). `op` picks the join:
    *  - `arith`: result = f(sum_a, sum_b) on every matched row;
    *  - `filter`: the matched rows where f(sum_a, sum_b) holds, result =
    *    sum_a (the left operand, whichever side's labels are kept);
    *  - `bool`: result = 1.0 where f(sum_a, sum_b) holds, else 0.0;
    *  - `and` / `unless`: the rows of `a` whose key is (not) in `b`
    *    (left-semi / left-anti join), `a`'s columns;
    *  - `or`: all of `a`, plus the rows of `b` whose key is absent from
    *    `a` (the left operand wins on overlap).
    * For arith/filter/bool each side's value arrives as `sum_a` /
    * `sum_b` and, when it carries one, its count as `n_a` / `n_b`; the
    * other columns are its labels. The one side's labels beyond `on`
    * ride onto the result (`group_left(extra)`), guarded one row per
    * match group at execution (Prometheus's many-to-many error instead
    * of a silent row multiplication). Output: the kept labels, the
    * carried ones, t, n_a, n_b, sum_a, sum_b, result. One null-safe
    * equi-join ([[nullSafeEquiJoin]]) on the group-sized (on, t) keys. */
  private[graft] def vectorMatch(
      a: DataFrame,
      b: DataFrame,
      on: Seq[String],
      group: String,
      op: String,
      f: (Column, Column) => Column = (x, _) => x): DataFrame = {
    val t = if (a.columns.contains("eval_ts")) "eval_ts" else "bucket_start"
    require(b.columns.contains(t),
      s"vector-match sides must share the time key $t: " +
      s"${a.columns.toSeq} vs ${b.columns.toSeq}")
    val keys = on :+ t
    def keysOf(df: DataFrame) = df.select(keys.map(col): _*)
    def labels(df: DataFrame, s: String) =
      df.columns.toSeq.filterNot(Set(t, s"n_$s", s"sum_$s"))
    op match {
      case "and" => nullSafeEquiJoin(a, keysOf(b), keys, "left_semi")
      case "unless" => nullSafeEquiJoin(a, keysOf(b), keys, "left_anti")
      case "or" =>
        require(a.columns.toSeq == b.columns.toSeq,
          s"'or' sides must produce the same columns: " +
          s"${a.columns.toSeq} vs ${b.columns.toSeq}")
        a.unionByName(nullSafeEquiJoin(b, keysOf(a), keys, "left_anti"))
      case "arith" | "filter" | "bool" =>
        val (many, one, m, s) =
          if (group == "right") (b, a, "b", "a") else (a, b, "a", "b")
        val carry =
          if (group == "one") Nil else labels(one, s).filterNot(on.contains)
        val guarded =
          if (carry.isEmpty) one
          else one.withColumn(s"sum_$s",
            when(count(lit(1)).over(org.apache.spark.sql.expressions.Window
                .partitionBy(keys.map(col): _*)) > 1,
              raise_error(concat(
                lit(s"group_$group: more than one " +
                  s"${if (s == "b") "right" else "left"}-side row for " +
                  "match group ("),
                concat_ws(",", on.map(col): _*), lit(")"))))
              .otherwise(col(s"sum_$s")))
        val joined = nullSafeEquiJoin(many, guarded, keys)
        val out = joined.select((labels(many, m) ++ carry ++ Seq(t) ++
          Seq("n_a", "n_b").filter(joined.columns.contains) ++
          Seq("sum_a", "sum_b")).map(col): _*)
        val (x, y) = (col("sum_a"), col("sum_b"))
        op match {
          case "arith" => out.select(col("*"), f(x, y).as("result"))
          case "filter" => out.select(col("*"), x.as("result")).where(f(x, y))
          case _ =>
            out.select(col("*"), when(f(x, y), 1.0).otherwise(0.0).as("result"))
        }
      case other => throw new IllegalArgumentException(
        s"unknown vector-match op: $other " +
        "(expected arith | filter | bool | and | or | unless)")
    }
  }

  /** The deterministic group hash both 3.x sampling aggregators key on:
    * md5-u32 of the salted, `|`-joined group label values (absent labels
    * hash as the empty string). Bit-identical in every engine — the
    * DuckDB oracles reproduce the exact sample. */
  private[graft] def groupU32(byLabels: Seq[String], salt: String): Column =
    conv(substring(md5(concat(lit(salt), concat_ws("|",
      byLabels.map(l => coalesce(col(l), lit(""))): _*))), 1, 8), 16, 10)
      .cast("long")

  /** The exact least-squares tail of deriv / predict_linear. `frame`
    * carries decimal(20,0) integers `x` (seconds from the fit origin) and
    * `yCol` (the value in 1/`yScale` units); one hash aggregation by
    * `groupCols` sums n, Σx, Σy, Σxy and Σx², and
    * {{{
    *   numc = n·Σxy − Σx·Σy        den = n·Σx² − (Σx)²
    *   slope_per_sec = numc / den / yScale
    *   predicted     = (Σy·den + numc·(n·xp − Σx)) / (n·den) / yScale
    * }}}
    * stay exact decimals up to those two final double divisions — the
    * same IEEE ops in every engine. A fit needs ≥ 2 distinct x: groups
    * with n < 2 or den = 0 emit nothing. Magnitude audit (sf0.1 × 10,
    * per group): |x| ≤ 6.1e5, y_cents ≤ 4.9e4, n ≤ 2e4 → |Σy·den| ≤
    * ~3e29 and |numc·(n·xp − Σx)| ≤ ~6e29, inside decimal(38,0) /
    * HUGEINT. Users: gaugeAggregate's `trend` (cents, both the one-window
    * and the sliding grid) and counterOverFrame (micros). */
  private def trendFit(
      frame: DataFrame,
      groupCols: Seq[Column],
      yCol: String,
      yScale: Double,
      xp: Long): DataFrame = {
    val (sy, sxy) = (s"s$yCol", s"sx$yCol")
    frame
      .groupBy(groupCols: _*)
      .agg(
        count(lit(1)).cast("decimal(20,0)").as("n"),
        sum(col("x")).as("sx"),
        sum(col(yCol)).as(sy),
        sum(col("x") * col(yCol)).as(sxy),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("numc", col("n") * col(sxy) - col("sx") * col(sy))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .where(col("n") >= 2 && col("den") =!= 0)
      .withColumn("slope_per_sec",
        col("numc").cast("double") / col("den").cast("double") / yScale)
      .withColumn("predicted",
        (col(sy) * col("den") + col("numc") *
          (col("n") * lit(xp).cast("decimal(20,0)") - col("sx")))
          .cast("double") /
          (col("n") * col("den")).cast("double") / yScale)
  }

  /** The first `k` rows of each `partition` in `order`, numbered
    * 1.. in `rkCol` (row_number: callers end `order` with the group
    * labels so ties break deterministically). It rides an
    * already-aggregated frame, so its state is one partition's groups,
    * never sample grain. `k` is a Column so each caller keeps its own
    * literal type (Int in Tsdb, Long from the PromQL AST). Users:
    * PromQL's topk/bottomk/limitk over the gauge `moments` and the
    * counter family's `sum` (tumbling and the subquery inner). */
  private[graft] def firstK(
      frame: DataFrame,
      partition: Seq[Column],
      order: Seq[Column],
      k: Column,
      rkCol: String = "rk"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partition: _*).orderBy(order: _*)
    frame.withColumn(rkCol, row_number().over(w)).where(col(rkCol) <= k)
  }

  /** The newest two samples of each `partition` (a series' bucket or
    * eval window) in (ts, value) DESC order: `dt` is their timestamp
    * gap, `idelta` their difference, and `irate` the reset-aware
    * difference (a drop counts the new value) over `dt`, null for a zero
    * gap. Partitions holding fewer than two samples emit nothing.
    * Users: gaugeAggregate's `last_two` (both grids). */
  private def lastTwoPair(frame: DataFrame, partition: Seq[Column])
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partition: _*)
      .orderBy(col("ts").desc, col("v").desc)
    frame
      .withColumn("rk", row_number().over(w))
      .withColumn("prev_ts", lead("ts", 1).over(w))
      .withColumn("prev_v", lead("v", 1).over(w))
      .where(col("rk") === 1 && col("prev_ts").isNotNull)
      .withColumn("dt", col("ts") - col("prev_ts"))
      .withColumn("idelta", (col("v") - col("prev_v")).cast("double"))
      .withColumn("irate",
        when(col("dt") > 0, round(
          when(col("v") >= col("prev_v"), col("v") - col("prev_v"))
            .otherwise(col("v")).cast("double") /
            col("dt").cast("double"), 6)))
  }

  /** Prometheus `bucketQuantile` over an ALREADY-AGGREGATED cumulative
    * bucket frame `(keyCols…, leCol (string bounds, "+Inf" overflow),
    * tsCol, valCol)` — the interpolation half of the CANONICAL
    * classic-histogram query `histogram_quantile(phi, sum by (le, l…)
    * (rate(bucket[d])))`. Semantics match promql/quantile.go: a running
    * max along the le axis repairs non-monotone cumulative values (the
    * ensureMonotonic fix), `total` is the largest (the +Inf bucket's)
    * value, the rank `phi·total` interpolates linearly inside the first
    * crossing bucket (lower bound 0 for the first finite bucket), and a
    * rank landing in +Inf returns the highest finite bound. All
    * arithmetic is fixed-order IEEE doubles over the engine's quantized
    * rates, so DuckDB mirrors are bit-exact. The windows ride one
    * partitioning (keyCols, tsCol) over groups × |buckets| aggregated
    * rows — never sample grain.
    */
  private[graft] def histQuantileOnFrame(
      frame: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      leCol: String,
      tsCol: String,
      valCol: String,
      phi: Double): org.apache.spark.sql.DataFrame = {
    require(phi > 0 && phi < 1, s"phi must be in (0,1): $phi")
    val part = keyCols.map(col) :+ col(tsCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*).orderBy("le_d")
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(part: _*)
    val lo = coalesce(col("prev_le"), lit(0.0))
    frame
      .withColumn("le_d",
        when(col(leCol) === "+Inf", lit(Double.PositiveInfinity))
          .otherwise(col(leCol).cast("double")))
      .withColumn("vm", max(col(valCol).cast("double")).over(wRun))
      .withColumn("prev_v", coalesce(lag("vm", 1).over(w), lit(0.0)))
      .withColumn("prev_le", lag("le_d", 1).over(w))
      .withColumn("total", max(col("vm")).over(wAll))
      .withColumn("target", lit(phi) * col("total"))
      .where(col("vm") >= col("target") && col("prev_v") < col("target"))
      .withColumn("q",
        when(col("le_d") === lit(Double.PositiveInfinity), col("prev_le"))
          .otherwise(lo + (col("le_d") - lo) *
            (col("target") - col("prev_v")) / (col("vm") - col("prev_v"))))
      .select(part ++ Seq(col("total"), col("q")): _*)
  }

  /** Sliding-window moment aggregation over an ALREADY-COMPUTED grid
    * frame `(keyCols…, tsCol, valCol)` — the OUTER leg of a nested
    * subquery: the eval-grid explode ([[explodeEvalGrid]]) the raw-sample
    * `*_over_time` family uses, applied to an inner expression's points.
    * The sum/avg moments accumulate in DECIMAL so they are
    * order-insensitive (oracle-mirrorable); min/max/count/last are
    * order-free by nature.
    */
  private[graft] def overTimeOnFrame(
      frame: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valCol: String,
      start: Long,
      end: Long,
      stepSec: Long,
      rangeSec: Long,
      quantile: Option[Double] = None,
      spread: Boolean = false,
      mad: Boolean = false): org.apache.spark.sql.DataFrame = {
    val dec = sum(col(valCol).cast("decimal(28,10)")).cast("double")
    val moments = Seq(
      count(lit(1)).as("n"),
      dec.as("sum_v"),
      (dec / count(lit(1))).as("avg_v"),
      min(col(valCol)).as("min_v"),
      max(col(valCol)).as("max_v"),
      max(struct(col(tsCol), col(valCol))).getField(valCol).as("last_v"),
      // present_over_time: the group exists only when ≥ 1 inner point
      // lands in the window, so presence is the constant 1.0
      max(lit(1.0)).as("present_v")) ++
      // quantile_over_time: exact linear-interpolation percentile (the
      // same Percentile the quantile rule family oracles against
      // DuckDB's quantile_cont) — computed only when asked, so the
      // moment-only plans stay sort-free
      quantile.map(qv =>
        round(percentile(col(valCol), lit(qv)), 6).as("q_v")) ++
      // stddev/stdvar over the window: the gauge `spread` integer
      // exactness scheme, at MICRO grain because the inner value is
      // 6-decimal quantized (the counter family's round(…,6)) — lossless
      // integer micro sums, fixed double op order mirrored 1:1 in the
      // oracle SQL, round(…,6) absorbing ULP. Callers must only enable
      // this for quantized inner value columns.
      (if (!spread) Seq.empty else {
        val m = round(col(valCol) * 1e6).cast("long")
        Seq(sum(m).as("__sum_m"),
          sum((m.cast("decimal(19,0)") * m.cast("decimal(19,0)")))
            .as("__sum2_m"))
      }) ++
      // mad_over_time: exact median absolute deviation of the window's
      // inner values — the per-(group, eval) median rides a window
      // percentile on the SAME partitioning as the groupBy (exchange
      // reused, the gauge `mad` scheme), the deviation median is one more
      // exact percentile, tie-free floor-rounded
      (if (!mad) Seq.empty
      else Seq(r6(percentile(abs(col(valCol) - col("__med")), lit(0.5)))
        .as("mad_v")))
    val exploded0 = explodeEvalGrid(frame, tsCol, start, end, stepSec,
      rangeSec, "__out_ts")
    val exploded = if (!mad) exploded0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col) :+ col("__out_ts"): _*)
      exploded0.withColumn("__med",
        percentile(col(valCol), lit(0.5)).over(w))
    }
    val out = exploded
      .groupBy(keyCols.map(col) :+ col("__out_ts"): _*)
      .agg(moments.head, moments.tail: _*)
      .withColumnRenamed("__out_ts", "eval_ts")
    if (!spread) out
    else {
      val n = col("n").cast("double")
      val meanM = col("__sum_m").cast("double") / n
      val stdvar =
        (col("__sum2_m").cast("double") / n - meanM * meanM) / 1e12
      out
        .withColumn("stdvar_v", r6(stdvar))
        .withColumn("stddev_v", r6(sqrt(stdvar)))
        .drop("__sum_m", "__sum2_m")
    }
  }

  /** Counter/trend functions OVER a computed subquery frame — the outer
    * half of `rate/increase/delta/idelta/irate/resets/changes/deriv/
    * predict_linear( <computed-vector>[range:step] )`, consuming the
    * same (keys, eval_ts, value) frames the `*_over_time` outers do
    * (sliding [[counterAggregate]] / [[gaugeAggregate]] output).
    * Semantics: the inner eval points in each outer window
    * `(T − rangeSec, T]` form the range vector; pairwise functions
    * (rate/increase/resets/changes/idelta/irate) use consecutive inner
    * points whose BOTH ends lie in the window (the range-vector rule —
    * unlike the raw-sample sliding family, whose delta attribution
    * follows the newer sample only); regression/endpoint functions
    * (deriv/predict_linear/delta) use all points in the window.
    *
    * Exactness: inner values are 6-decimal quantized by construction
    * (every frame column this accepts — the spread gate's set), so the
    * decimal(28,10) cast is lossless, deltas/sums are exact decimals,
    * the regression runs on exact integer micros (the
    * [[trendFit]] at micro grain), and every final rate-like value
    * rounds through [[r6]]. Plan: one lag window at label grain over the
    * inner frame, one explode to covering outer evals
    * ([[explodeEvalGrid]]), ONE hash aggregation — label-
    * grain everywhere, never sample-cardinality.
    */
  private[graft] def counterOverFrame(
      frame: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valCol: String,
      start: Long,
      end: Long,
      stepSec: Long,
      rangeSec: Long,
      fn: String,
      horizonSec: Long = 0L): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol))
    val lagged = explodeEvalGrid(
      frame
        .withColumn("__v", col(valCol).cast("decimal(28,10)"))
        .withColumn("__pv", lag("__v", 1).over(w))
        .withColumn("__pt", lag(tsCol, 1).over(w)),
      tsCol, start, end, stepSec, rangeSec, "__T")
    // a pair is live in window T only when its OLDER end is inside too
    val pin = col("__pt").isNotNull && col("__pt") > col("__T") - rangeSec
    val groupCols = keyCols.map(col) :+ col("__T")
    val out = fn match {
      case "rate" | "increase" =>
        val d = when(col("__v") >= col("__pv"), col("__v") - col("__pv"))
          .otherwise(col("__v"))
        lagged
          .groupBy(groupCols: _*)
          .agg(
            sum(when(pin, lit(1L)).otherwise(lit(0L))).as("n_deltas"),
            sum(when(pin, d)).as("__inc"))
          .where(col("n_deltas") >= 1)
          .withColumn("increase", col("__inc").cast("double"))
          .withColumn("rate_per_sec",
            r6(col("__inc").cast("double") / rangeSec))
          .drop("__inc")
      case "resets" | "changes" =>
        lagged
          .groupBy(groupCols: _*)
          .agg(
            sum(when(pin, lit(1L)).otherwise(lit(0L))).as("n_deltas"),
            sum(when(pin && col("__v") < col("__pv"), 1L).otherwise(0L))
              .as("resets"),
            sum(when(pin && col("__v") =!= col("__pv"), 1L).otherwise(0L))
              .as("changes"))
          .where(col("n_deltas") >= 1)
          .drop(if (fn == "resets") "changes" else "resets")
      case "delta" =>
        lagged
          .groupBy(groupCols: _*)
          .agg(
            count(lit(1)).as("n"),
            (max(struct(col(tsCol), col("__v"))).getField("__v") -
              min(struct(col(tsCol), col("__v"))).getField("__v"))
              .cast("double").as("delta"))
          .where(col("n") >= 2)
      case "idelta" | "irate" =>
        // newest in-window pair: max over (ts, dv, dt) structs of live
        // pairs — null for non-pin rows, max() skips them
        val pair = when(pin, struct(col(tsCol).as("t"),
          (col("__v") - col("__pv")).as("dv"),
          when(col("__v") >= col("__pv"), col("__v") - col("__pv"))
            .otherwise(col("__v")).as("dc"),
          (col(tsCol) - col("__pt")).as("dt")))
        lagged
          .groupBy(groupCols: _*)
          .agg(max(pair).as("__p"))
          .where(col("__p").isNotNull)
          .withColumn("idelta",
            col("__p").getField("dv").cast("double"))
          .withColumn("irate",
            when(col("__p").getField("dt") > 0,
              r6(col("__p").getField("dc").cast("double") /
                col("__p").getField("dt").cast("double"))))
          .drop("__p")
      case "deriv" | "predict_linear" =>
        // exact integer regression at micro grain: the inner values are
        // 6-decimal quantized, so v·1e6 is an exact integer
        val dec = "decimal(20,0)"
        val xy = lagged
          .withColumn("x",
            (col(tsCol) - (col("__T") - lit(rangeSec))).cast(dec))
          // decimal × integral literal stays exact decimal arithmetic —
          // a double 1e6 literal would silently promote __v to double
          .withColumn("ym", (col("__v") * lit(1000000L)).cast(dec))
        trendFit(xy, groupCols, "ym", 1e6, rangeSec + horizonSec)
          .select((keyCols.map(col) :+ col("__T") :+
            col("n").cast("long").as("n") :+ col("slope_per_sec") :+
            col("predicted")): _*)
      case other => throw new IllegalArgumentException(
        s"counterOverFrame does not serve '$other'")
    }
    out.withColumnRenamed("__T", "eval_ts")
  }

  /** Equi-join on `keys` where NULL matches NULL — PromQL's labelset
    * identity for vector matching and set ops. A grouping label can be
    * NULL for series that lack it (a `without`-resolved by-list over a
    * heterogeneous label universe, or an explicit `by` naming a label
    * only some series carry); Prometheus matches such labelsets (absent
    * matches absent), but Spark's USING join compiles to EqualTo and
    * silently drops those groups. `<=>` keys still extract as hash-join
    * keys (ExtractEquiJoinKeys handles EqualNullSafe), so the plan shape
    * is unchanged. The right side's key copies are renamed away before
    * the join; inner joins keep the LEFT side's key columns. */
  private[graft] def nullSafeEquiJoin(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      keys: Seq[String],
      joinType: String = "inner"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    // derive a rename prefix absent from the right frame's columns: a
    // pre-existing __r_<key> column would otherwise produce duplicate
    // names and an ambiguous join condition
    val prefix = Iterator.iterate("__r_")(_ + "_")
      .dropWhile(p => keys.exists(k => b.columns.contains(p + k)))
      .next()
    val renamed = keys.foldLeft(b)((df, k) =>
      df.withColumnRenamed(k, s"$prefix$k"))
    val cond = keys.map(k => col(k) <=> col(s"$prefix$k")).reduce(_ && _)
    val joined = a.join(renamed, cond, joinType)
    if (joinType == "left_semi" || joinType == "left_anti") joined
    else keys.foldLeft(joined)((df, k) => df.drop(s"$prefix$k"))
  }

  /** Conjunctive matcher predicate over a label map column — the Spark form
    * of the reference's per-matcher UNION + cross-matcher INTERSECT over sid
    * sets (index.go:111-143). Regex patterns are anchored `^(?:v)$` like the
    * reference (label.go:88). Negative matchers (not in the reference)
    * match series where the label is absent, Prometheus-style.
    *
    * Regex fast path (the reference's Prometheus fastRegexMatcher,
    * label.go:111-148, applied at plan-build time since the pattern is a
    * plan-time constant): metacharacter-free patterns become equality;
    * `lit.*` / `.*lit` / `.*lit.*` become StartsWith/EndsWith/Contains —
    * codegen'd string predicates instead of regex evaluation per row.
    * Semantics identical for newline-free label values (anchored regex).
    */
  def matcherPredicate(labels: Column, matchers: Seq[LabelMatcher]): Column =
    matcherPredicateWith(labels.getItem(_), matchers)

  /** [[matcherPredicate]] with a caller-chosen label-value resolver, so
    * layouts that carry a label's value as a PLAIN COLUMN can evaluate
    * its matchers against that column instead of a map lookup — see
    * [[Tsdb.factMatcherPredicate]] for the `metric`/`__name__` case.
    */
  private[graft] def matcherPredicateWith(
      resolve: String => Column,
      matchers: Seq[LabelMatcher]): Column =
    matchers.foldLeft(lit(true)) { (acc, m) =>
      val v = resolve(m.name)
      val pos =
        if (m.isRegex) v.isNotNull && regexFastPath(v, m.value)
        else v.isNotNull && v === m.value
      acc && (if (m.negate) !coalesce(pos, lit(false)) else pos)
    }

  private def isLiteral(s: String): Boolean =
    s.forall(c => !"\\.+*?()|[]{}^$".contains(c))

  /** `lit1.*lit2` split: Some((prefix, suffix)) when the pattern is exactly
    * two non-empty literals joined by one `.*` — the reference's
    * optimizeConcatRegex shape (label.go:111-148).
    */
  private def concatParts(p: String): Option[(String, String)] = {
    val i = p.indexOf(".*")
    if (i <= 0) None
    else {
      val (pre, suf) = (p.substring(0, i), p.substring(i + 2))
      if (suf.nonEmpty && isLiteral(pre) && isLiteral(suf)) Some((pre, suf))
      else None
    }
  }

  private def regexFastPath(v: Column, pattern: String): Column = pattern match {
    case p if isLiteral(p) => v === p
    case p if p.endsWith(".*") && isLiteral(p.dropRight(2)) =>
      v.startsWith(p.dropRight(2))
    case p if p.startsWith(".*") && isLiteral(p.drop(2)) =>
      v.endsWith(p.drop(2))
    case p if p.startsWith(".*") && p.endsWith(".*") &&
        p.length >= 4 && isLiteral(p.substring(2, p.length - 2)) =>
      v.contains(p.substring(2, p.length - 2))
    case p if concatParts(p).isDefined =>
      // `lit1.*lit2` (the reference's optimizeConcatRegex): exact iff the
      // value starts with lit1, ends with lit2, AND is long enough that the
      // two literals don't overlap — all codegen'd string ops, no regex
      val (pre, suf) = concatParts(p).get
      v.startsWith(pre) && v.endsWith(suf) &&
        length(v) >= pre.length + suf.length
    case p => v.rlike("^(?:" + p + ")$")
  }

  /** Attach an existing long-format DataFrame as an in-memory TSDB — used to
    * run the TSDB query surface over external tables (e.g. the shared
    * `events` table) without copying storage.
    */
  def attach(
      spark: SparkSession,
      rows: DataFrame,
      conf: TsdbConf = TsdbConf(dataPath = "", onlyMemoryMode = true)): Tsdb = {
    val t = new Tsdb(spark, conf.copy(onlyMemoryMode = true))
    t.insertRows(rows)
    t
  }
}
