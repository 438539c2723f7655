package graft

/** Smoke tests of the driver contract: entry() returns rows; every
  * registered query runs and returns rows at sf0.001; every oracle entry
  * has a matching query.
  */
class EntrySpec extends SparkSuite {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"orphan oracles: ${o.diff(q)}")
    // only the intentionally-approximate queries lack an oracle, plus the
    // clustered-corpus bench trio whose hash-generated input is
    // DuckDB-inexpressible (exactness is spec-gated in OperatorSpec:
    // LSH/IVF recall vs the exact in-engine brute-force twin), plus the
    // xxhash64 DSIR deployment path (no xxhash64 in DuckDB; its md5 twin
    // IS oracled and the fast form is exactness-gated in
    // OperatorSpec/StreamingSpec against the structurally-different
    // streaming scorer)
    assert(q.diff(o) == Set(
      "ann_topk_lsh", "ann_topk_ivf", "ann_topk_ivf_sq8",
      "q_approx_distinct",
      "dedup_embedding_lsh", "dedup_embedding_ivf",
      "ann_clustered_lsh", "ann_clustered_ivf",
      "pipeline_dsir_fast"))
  }

  test("every query runs and returns rows at sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try {
        val n = fn(spark, sf0001).count()
        if (n > 0) None else Some(s"$name: 0 rows")
      } catch {
        case e: Throwable => Some(s"$name: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("prewarm builds the cumulative-histogram fixture for the alert " +
      "that reads it") {
    // the events under a fresh directory name get a fixture of their own
    val dir = tempDir("histq_prewarm")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf0001, "events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val name = new java.io.File(dir).getName
    def fixtures = Option(new java.io.File("spark-warehouse/graft_index")
      .listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"histcum_${name}_"))
    try {
      SparkEntry.prewarm(spark, dir, Some(Set("tsdb_alert_rule_histq")))
      assert(fixtures.size == 1 &&
        new java.io.File(fixtures.head, "_ready").exists, fixtures)
    } finally fixtures.foreach(f =>
      org.apache.commons.io.FileUtils.deleteDirectory(f))
  }
}
