package graft.model

/** Core data model of the engine (SURVEY §1.4).
  *
  * The reference's write unit is `(metric, labels, ts, value)`
  * (tsdb.go:159-163); internally the metric folds into the label set as
  * `__name__` so a row is just a label set + point. We keep both the folded
  * map and the derived `sid`/`seg` columns explicit.
  */
final case class Sample(
    sid: Long,
    metric: String,
    labels: Map[String, String],
    seg: Long,
    ts: Long, // epoch seconds (reference Point.Ts, tsdb.go:145-148)
    value: Double)

/** One row per series: identity + label set + observed time bounds.
  * Plays the role of the reference's inverted index + per-segment label
  * value store (index.go, label.go:40-77): metadata queries and matcher
  * pre-filtering run against this small dimension table instead of the
  * sample fact table.
  */
final case class SeriesMeta(
    sid: Long,
    metric: String,
    labels: Map[String, String],
    minTs: Long,
    maxTs: Long)

/** Label predicate (reference label.go:283-290). The reference only supports
  * equality and anchored regex; we additionally expose negation (`!=` / `!~`)
  * because it is free in Spark — oracle-checked queries stick to the
  * reference-expressible subset.
  */
final case class LabelMatcher(
    name: String,
    value: String,
    isRegex: Boolean = false,
    negate: Boolean = false)

object LabelMatcher {
  def eq(name: String, value: String): LabelMatcher = LabelMatcher(name, value)
  def re(name: String, pattern: String): LabelMatcher =
    LabelMatcher(name, pattern, isRegex = true)
  def neq(name: String, value: String): LabelMatcher =
    LabelMatcher(name, value, negate = true)
  def nre(name: String, pattern: String): LabelMatcher =
    LabelMatcher(name, pattern, isRegex = true, negate = true)
}

/** Engine configuration (reference tsdb.go:24-48 option surface).
  *
  * Unlike the reference — where `enableOutdated` and `maxRowsPerSegment`
  * are stored but never consulted (SURVEY §2.1 fidelity note) — these knobs
  * are honored.
  */
final case class TsdbConf(
    dataPath: String,
    segmentDuration: Long = 2L * 3600, // 2h, tsdb.go:40
    retention: Long = 7L * 86400, // 7d, tsdb.go:41
    compression: String = "zstd", // compressor.go codecs: none|zstd|snappy
    onlyMemoryMode: Boolean = false,
    /** Reference tsdb.go:44. Honored on the head-buffered ingest path
      * ([[graft.Tsdb.insertHeadRows]]): when false, rows whose segment is
      * already frozen to disk are rejected (the reference's "no out-of-order
      * into frozen segments"); when true (default) they are accepted —
      * batch storage is order-free, so acceptance costs nothing.
      */
    enableOutdated: Boolean = true,
    /** Reference tsdb.go:45 (default 19960412 rows). Honored as the
      * secondary freeze trigger: the in-memory head auto-flushes to parquet
      * once it holds this many rows, bounding head memory independently of
      * `segmentDuration`. `<= 0` disables the trigger.
      */
    maxRowsPerSegment: Long = 19960412L,
    /** Reference tsdb.go:42 (30 s enqueue timeout). Honored on the
      * streaming ingest path: a micro-batch whose durable write exceeds
      * this bound fails the query — overload is surfaced instead of
      * queueing unboundedly. `< 0` disables the bound.
      */
    writeListenerTimeoutSec: Long = 30L,
    /** Series-metadata maintenance cadence: every durable append (ingest
      * batch, head flush, rollup-dim append) adds a fresh generation to
      * `series_meta` (L0), and reads pay a merge while deltas exist.
      * Once this many generations pile up, the store folds them inline
      * ([[graft.Tsdb.foldMetaDelta]]). While the folded level (L1) and
      * L0 each hold under half the base's bytes, the fold merges ONLY L0
      * into the append-only L1 — O(rows appended since the last fold),
      * independent of total series count and of store age. Once either
      * has caught up, the fold merges base ∪ L1 ∪ L0 into a new base
      * instead — at most 3× the rows touched since the base was last
      * written. A metadata read therefore merges the base, a folded
      * level under half the base plus at most one fold's generations,
      * and at most this many fresh generations, however many batches the
      * store has taken. A fold deletes or swaps meta files, so a
      * DataFrame built before it must be rebuilt before it runs (as after
      * `compactSeriesMeta`). The fold runs inline
      * on the append that crosses the cadence and counts toward the
      * streaming path's `writeListenerTimeoutSec` budget; latency-strict
      * streaming deployments can set `<= 0` (merge-on-read only) and
      * schedule [[graft.Tsdb.compactSeriesMeta]] — the full
      * base ∪ L1 ∪ L0 consolidation — as an external maintenance job.
      * Default 2: at high series cardinality the fold-bearing append
      * then stays within ~1.5× of a plain append (measured at 10M live
      * series, bench_history_r13), vs 2.5× at cadence 4 — the fold's
      * fixed job cost amortizes worse than its per-row cost, so smaller
      * more-frequent folds bound the worst-case ingest latency better
      * at the same delta-only write amplification (each L0 row is
      * rewritten once into L1 regardless of cadence).
      */
    metaCompactEvery: Int = 2,
    /** Ingest write parallelism WITHIN one time bucket: each durable
      * batch shuffles the fact rows by `(seg, sid % filesPerSegment)`
      * before the partitioned write, so a batch covering few segments
      * (the common streaming case: everything lands in the live bucket)
      * still writes through up to this many tasks instead of one, while
      * files-per-bucket-per-batch stays bounded by the knob (not by task
      * count). Sub-bucketing by sid keeps each series whole inside one
      * file, so per-series point locality and sid row-group skipping are
      * unchanged. `1` (default) preserves the one-file-per-bucket layout;
      * large ingest jobs set it near their per-job core count.
      */
    filesPerSegment: Int = 1)
