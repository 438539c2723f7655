package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics the reference's data model implies but never
  * implements (SURVEY §2.2: no windows, no joins): tumbling-window
  * aggregation, session windows (gaps-and-islands), and as-of join.
  * All are single-shuffle plans keyed by the entity id.
  */
object EventOps {

  /** Tumbling-window aggregation over epoch-second rows: the batch
    * equivalent of the Structured Streaming windowed aggregation in
    * [[graft.streaming.Ingest]]. `bucket = ts_s div windowSec`.
    */
  def tumblingAgg(
      events: DataFrame,
      keyCol: String,
      tsSecCol: String,
      valueCol: String,
      windowSec: Long): DataFrame =
    events
      .groupBy(
        col(keyCol),
        (col(tsSecCol) - pmod(col(tsSecCol), lit(windowSec))).as("bucket_start"))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Sessionization with an inactivity gap (gaps-and-islands): a new session
    * starts when the time since the previous event of the same key exceeds
    * `gapSec`. One shuffle on the key; two window passes, same partitioning.
    * Tie-break on `idCol` makes ordering deterministic for equal timestamps.
    */
  def sessionize(
      events: DataFrame,
      keyCol: String,
      tsSecCol: String,
      idCol: String,
      valueCol: String,
      gapSec: Long): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsSecCol), col(idCol))
    val newSession =
      when(col(tsSecCol) - lag(col(tsSecCol), 1).over(byKey) > gapSec, 1)
        .when(lag(col(tsSecCol), 1).over(byKey).isNull, 1)
        .otherwise(0)
    events
      .withColumn("new_s", newSession)
      .withColumn("session_seq",
        sum(col("new_s")).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("session_seq"))
      .agg(
        min(col(tsSecCol)).as("session_start"),
        max(col(tsSecCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_v"))
  }

  /** Skew-resistant two-phase aggregation: spread each hot key over
    * `salts` sub-keys for the first (heavy) partial aggregation, then
    * combine the per-salt partials. Use when one key holds a large share
    * of all rows and a single reducer would stall the stage — the manual
    * complement to AQE's skew-join splitting, for aggregations.
    * Supports the decomposable aggregates (count/sum/min/max).
    */
  def saltedAgg(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      salts: Int): DataFrame = {
    // salt from a hash of the full row (stable columns only): deterministic
    // across task retries — a re-executed partition salts identically, so
    // the partial aggregation is exactly re-creatable, unlike
    // monotonically_increasing_id whose values depend on task scheduling.
    // Fully duplicate rows share a salt; decomposable aggs are unaffected
    // and the spread only degrades if one literal row dominates the key.
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col): _*), lit(salts)))
    val partial = salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(
        count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("__sum"),
        min(col(valueCol)).as("__min"),
        max(col(valueCol)).as("__max"))
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("__n")).as("n"),
        sum(col("__sum")).cast("double").as("sum_v"),
        min(col("__min")).as("min_v"),
        max(col("__max")).as("max_v"))
  }

  /** Skew-mitigated equi-join: salt the (skewed) fact side with a
    * deterministic per-row hash, replicate each build-side row across all
    * `salts` buckets, and join on `(key, salt)` — a hot key's rows spread
    * over `salts` reducer partitions instead of melting one task. This is
    * the manual form of AQE's skew-join split, usable when the skew is
    * known up front, the build side is replicable (dimension-sized), or
    * AQE's size thresholds won't trigger (many moderate hot keys). Result
    * is row-identical to the plain inner join; only the partitioning
    * changes.
    *
    * At 100 TB: shuffle volume grows by ×salts ONLY on the small build
    * side; the fact side still moves once. Salting composes with (and is
    * subsumed by) broadcast when the build side fits in memory — use this
    * when it doesn't.
    */
  def saltedJoin(
      fact: DataFrame,
      build: DataFrame,
      keyCol: String,
      salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive: $salts")
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(fact.columns.map(col): _*), lit(salts)))
    val explodedBuild = build.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    saltedFact.join(explodedBuild, Seq(keyCol, "__salt")).drop("__salt")
  }

  /** Range (interval) join: pairs (l, r) with the same key and
    * `r.ts ∈ [l.ts + lower, l.ts + upper)` — implemented as a bucketized
    * equi-join, NOT a theta-join: left rows explode to the (≤ ⌈span/w⌉+1)
    * time buckets their window covers, right rows land in their own bucket,
    * and the join key is (key, bucket) with an exact residual filter.
    * One hash shuffle, no quadratic blow-up — the plan that survives wide
    * windows over dense keys at 100 TB where `l.ts BETWEEN … AND …` as a
    * join condition degenerates to a per-key nested loop.
    *
    * @param rightPayload right columns carried onto each matched pair
    */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      lower: Long,
      upper: Long,
      rightPayload: Seq[String]): DataFrame = {
    require(upper > lower, "empty interval")
    val w = upper - lower
    val lo = col(leftTsCol) + lower
    val hi = col(leftTsCol) + upper // exclusive
    val l = left
      .withColumn("__bucket",
        explode(sequence(floor(lo / w).cast("long"),
          floor((hi - 1) / w).cast("long"))))
    val r = right
      .select((Seq(col(keyCol).as("__rkey"),
        col(rightTsCol).as("__rts"),
        floor(col(rightTsCol) / w).cast("long").as("__rbucket")) ++
        rightPayload.map(col)): _*)
    l.join(r,
        col(keyCol) === col("__rkey") && col("__bucket") === col("__rbucket") &&
          col("__rts") >= lo && col("__rts") < hi)
      .drop("__bucket", "__rbucket", "__rkey")
  }

  /** As-of (backward, inclusive) join: for each left row, the most recent
    * right row with `right.ts <= left.ts` for the same key.
    *
    * Implemented as the union-sort-window plan: tag both sides, union,
    * window by key ordered by (ts, side) and carry the last non-null right
    * payload forward, then keep left rows. ONE shuffle on the key — no
    * range-join explosion, no per-key skew beyond the data's own — this is
    * the plan that survives 100 TB, unlike a naive
    * `left.ts >= right.ts` theta-join.
    *
    * @param rightPayload (name -> column-of-right) values carried to matches
    */
  def asOfJoinBackward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      rightPayload: Seq[String]): DataFrame = {
    val payType = org.apache.spark.sql.types.StructType(
      right.select(rightPayload.map(col): _*).schema.fields)
    val leftCols = left.columns
    val lSel = left
      .withColumn("__side", lit(1))
      .withColumn("__pay", lit(null).cast(payType))
    val rSel = right
      .select(col(keyCol), col(tsCol),
        struct(rightPayload.map(col): _*).as("__pay"))
      .withColumn("__side", lit(0))
    // at equal ts the right row sorts first (__side 0 < 1), so a left row
    // matches a right row with exactly-equal ts: backward-INCLUSIVE.
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    lSel
      .unionByName(rSel, allowMissingColumns = true)
      .withColumn("matched", last(col("__pay"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select((leftCols.map(col) :+ col("matched")): _*)
  }

  /** PromQL-style counter `increase` per (key, tumbling window): the sum
    * of positive deltas, where a value drop contributes the new value (a
    * restarted counter), summed per window. Delta arithmetic in DECIMAL
    * so window sums are association-free; the lag lookback crosses
    * window boundaries like PromQL's. One shuffle per window key.
    */
  def counterIncrease(
      df: DataFrame,
      keyCol: String,
      tsSecCol: String,
      idCol: String,
      valueCol: String,
      windowSec: Long): DataFrame = {
    graft.Tsdb
      .counterLag(df, keyCol, Seq(col(tsSecCol), col(idCol)), valueCol)
      .where(col("delta").isNotNull)
      .groupBy(col(keyCol),
        (col(tsSecCol) - pmod(col(tsSecCol), lit(windowSec)))
          .as("bucket_start"))
      .agg(
        sum(col("delta")).cast("double").as("increase"),
        round(sum(col("delta")).cast("double") / windowSec, 6)
          .as("rate_per_sec"))
  }

  /** Forward-inclusive as-of join: for each left row, the EARLIEST right
    * row of the same key with `r.ts >= l.ts`. Same union-window plan as
    * [[asOfJoinBackward]] mirrored over the following frame — still one
    * shuffle on the key. (The native AsOfJoinExec covers this direction by
    * composition: join on negated timestamps.)
    */
  def asOfJoinForward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      rightPayload: Seq[String]): DataFrame = {
    val payType = org.apache.spark.sql.types.StructType(
      right.select(rightPayload.map(col): _*).schema.fields)
    val leftCols = left.columns
    val lSel = left
      .withColumn("__side", lit(0))
      .withColumn("__pay", lit(null).cast(payType))
    val rSel = right
      .select(col(keyCol), col(tsCol),
        struct(rightPayload.map(col): _*).as("__pay"))
      .withColumn("__side", lit(1))
    // at equal ts the LEFT row sorts first (__side 0 < 1), so a left row
    // matches a right row with exactly-equal ts: forward-INCLUSIVE.
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(0, Window.unboundedFollowing)
    lSel
      .unionByName(rSel, allowMissingColumns = true)
      .withColumn("matched", first(col("__pay"), ignoreNulls = true).over(w))
      .where(col("__side") === 0)
      .select((leftCols.map(col) :+ col("matched")): _*)
  }
}
