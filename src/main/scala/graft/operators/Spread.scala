package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Spread a badly-partitioned input across the cluster before expensive
  * per-row work (guide §2.5 "input skew": one un-split file serializes
  * every narrow stage built on it — exactly how the single-row-group
  * sf* parquet tables read, at ANY scale factor up to x100). The
  * round-robin exchange costs one pass over the (small) input and shows
  * up as `Exchange roundrobinpartitioning`; the guard makes it free for
  * well-partitioned inputs — at production scale (many files / row
  * groups) this is a no-op.
  *
  * The one input-spreading idiom of the engine: the dedup/similarity/text
  * operators (DSIR first: 10.98 → 2.15 s) and `Tsdb` ingest batches.
  */
private[graft] object Spread {
  def apply(df: DataFrame): DataFrame = {
    // streaming frames (the CorpusFilter twins reuse the batch operators):
    // no QueryExecution.toRdd before writeStream.start(), and micro-batch
    // partitioning is the source's concern — pass through untouched
    if (df.isStreaming) return df
    // exchange-bearing frames pass through untouched: their output
    // partitioning is the shuffle's (AQE-sized) concern, AND — the real
    // hazard — under AQE `toRdd` on such a plan MATERIALIZES the upstream
    // query stages (shuffles, broadcasts) as real jobs whose results the
    // subsequent repartition would then discard (double execution). The
    // guard reads the physical plan: any exchange, or an adaptive root
    // (AQE wraps exactly the plans with exchanges or subqueries). The
    // single-split-input problem this exists for is a property of
    // exchange-free frames only, so skipping the others loses nothing.
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.isInstanceOf[AdaptiveSparkPlanExec] ||
      plan.exists(_.isInstanceOf[Exchange])
    if (exchanges) return df
    val want = df.sparkSession.sparkContext.defaultParallelism
    // partition count from the internal-row RDD of the already-planned
    // QueryExecution — `df.rdd` would append a row-deserializing
    // conversion and build a second, throwaway RDD lineage per call;
    // `toRdd` is the cached physical plan's own RDD (no job runs for an
    // exchange-free plan, getNumPartitions is driver-side metadata)
    val have = df.queryExecution.toRdd.getNumPartitions
    if (have * 2 < want) df.repartition(want) else df
  }
}
