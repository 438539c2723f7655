package graft.tools

import org.apache.spark.sql.functions._

/** Receipt harness for the r14 expression-recompute fixes: the
  * synthetic documents are short (~tens of tokens), so the O(n²)/k×
  * recompute classes barely register there — this probe scales the
  * DOCUMENT LENGTH instead and checks the per-token cost stays flat.
  * Two in-memory corpora with identical row counts, 20× apart in
  * tokens per doc: a linear operator grows ~20×, the old quadratic
  * gram construction would grow ~400×.
  *
  * Usage: sbt "runMain graft.tools.LongDocProbe"
  */
object LongDocProbe {
  def main(args: Array[String]): Unit = {
    val spark = Local.session("32", "32")
    import spark.implicits._

    def corpus(nDocs: Int, tokens: Int) = {
      // deterministic pseudo-text: token vocabulary of 1000 words, a
      // few stopwords sprinkled so langId/quality have signal
      spark.range(nDocs).select(
          col("id").as("doc_id"),
          concat_ws(" ",
            transform(sequence(lit(0), lit(tokens - 1)), i =>
              when(pmod(i, lit(17)) === 0, lit("the"))
                .when(pmod(i, lit(23)) === 0, lit("and"))
                .otherwise(concat(lit("w"),
                  pmod(xxhash64(col("id"), i), lit(1000))))))
            .as("text"))
        .localCheckpoint() // materialize: text generation outside timing
    }

    val short = corpus(10000, 200)
    val long = corpus(10000, 4000) // 20x tokens per doc

    def time(name: String)(f: => Long): Unit = {
      // min-of-2: the first call pays whole-stage codegen + JIT
      def once(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val s = math.min(once(), once())
      println(f"[longdoc] $name%-28s $s%8.2f s")
    }

    import graft.operators.TextAnalysis
    // force EVERY output column: a bare count() lets the optimizer
    // prune the computed columns away entirely (first probe version
    // timed nothing but row counting for the map-side operators)
    def force(df: org.apache.spark.sql.DataFrame): Long = {
      df.select(max(xxhash64(df.columns.map(col): _*))).head(); df.count()
    }
    // warm JIT once on the short corpus
    force(TextAnalysis.languageId(short, "doc_id", "text"))

    for ((tag, c) <- Seq("short(200tok)" -> short, "long(4000tok)" -> long)) {
      time(s"langid    $tag") {
        force(TextAnalysis.languageId(c, "doc_id", "text")) }
      time(s"quality   $tag") {
        force(TextAnalysis.qualityScore(c, "doc_id", "text")) }
      time(s"repetition $tag") {
        force(TextAnalysis.repetitionStats(c, "doc_id", "text")) }
      time(s"dsir      $tag") {
        TextAnalysis.dsirWeights(c,
          c.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text")
          .count() }
      time(s"dsir_xx   $tag") {
        TextAnalysis.dsirWeights(c,
          c.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
          hash = "xx").count() }
      time(s"fingerprint $tag") {
        force(TextAnalysis.fingerprints(c, "doc_id", "text")) }
    }
    spark.stop()
  }
}
