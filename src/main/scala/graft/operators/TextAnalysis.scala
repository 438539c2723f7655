package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document-level text analysis: language-ID, quality scoring, token
  * counting, fingerprinting. Pure map-side column expressions — no shuffle,
  * no UDFs; scales linearly and stays inside WholeStageCodegen.
  */
object TextAnalysis {

  /** Language-ID via the stopword/marker heuristic of
    * [[graft.functions.TextFunctions.langId]].
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), langId(col(textCol)).as("lang_pred"))

  /** Quality metrics: char/word counts, mean word length, punctuation and
    * stopword ratios, and a composite [0,1] quality score. All ratios are
    * double divisions of exact integer counts in a fixed order.
    */
  def qualityScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    // tokenization, the punctuation regex, and the stopword fold are
    // materialized as ATTRIBUTES between projections: the ratios appear
    // in both their output column and the composite score, so as inline
    // trees each expensive sub-expression evaluated 2-3× per row (the
    // HOF-recompute class at projection level). Values identical.
    val nChars = length(t)
    val nWords = size(col("__q_toks"))
    val meanWordLen =
      (length(regexp_replace(t, "\\s+", "")).cast("double") / nWords)
    val punctRatio = col("__q_punct").cast("double") / nChars
    val stopRatio = col("__q_stops").cast("double") / nWords
    // composite: reward moderate length + low punctuation + some stopwords
    val score =
      least(nWords.cast("double") / 100.0, lit(1.0)) * 0.5 +
        (lit(1.0) - least(punctRatio * 10.0, lit(1.0))) * 0.3 +
        least(stopRatio * 5.0, lit(1.0)) * 0.2
    docs
      .withColumn("__q_toks", wsTokens(t))
      .withColumn("__q_punct",
        length(t) - length(regexp_replace(t, "[^a-zA-Z0-9\\s]", "")))
      .withColumn("__q_stops",
        langScore(col("__q_toks"), LangMarkers.head._2)) // english markers
      .select(
        col(idCol).as("doc_id") +:
          keep.map(col) :+
          nChars.as("n_chars") :+
          nWords.as("n_words") :+
          round(meanWordLen, 6).as("mean_word_len") :+
          round(punctRatio, 6).as("punct_ratio") :+
          round(stopRatio, 6).as("stopword_ratio") :+
          round(score, 6).as("quality"): _*)
  }

  /** Token counts: whitespace tokens and BPE-ish regex tokens. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(wsTokens(col(textCol))).as("n_ws_tokens"),
      bpeTokenCount(col(textCol)).as("n_bpe_tokens"))

  /** Winnowing fingerprint summary per doc: count + min/max/sum of the
    * distinct window-minimum gram hashes (exact integers).
    */
  def winnowSummary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // the fingerprint array (rolling k-gram hashes + window minima — the
    // most expensive text expression here) is materialized ONCE as an
    // attribute; the five inline references previously recomputed it
    // five times per row
    spreadDocs(docs)
      .withColumn("__fps", winnowFingerprints(col(textCol)))
      .select(
        col(idCol).as("doc_id"),
        size(col("__fps")).as("n_fp"),
        array_min(col("__fps")).as("fp_min"),
        array_max(col("__fps")).as("fp_max"),
        when(size(col("__fps")) > 0,
          aggregate(col("__fps"), lit(0L), (a, x) => a + x)).as("fp_sum"))

  /** Fingerprints: md5 of normalized text + portable rolling polynomial
    * hash (base 31 mod 1e9+7) — see TextFunctions for the exact fold.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      md5Fingerprint(col(textCol)).as("fp_md5"),
      polyFingerprint(col(textCol)).as("fp_poly"))

  /** Benchmark decontamination (the training-hygiene pass every LLM corpus
    * runs before training): flag training documents that share any word
    * `k`-gram with a benchmark/eval set, GPT-3-style n-gram overlap.
    *
    * Scale shape: the benchmark is small by nature (eval suites are KBs-MBs
    * against a 100 TB corpus), so its distinct shingle set is BROADCAST and
    * the corpus flows scan → map-side shingle explode → broadcast-hash semi
    * join with no corpus shuffle; the only exchange is the final per-doc
    * count (map-side partial agg on doc_id). Output: one row per
    * contaminated doc with the number of its distinct shingles that hit the
    * benchmark.
    */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    import graft.functions.TextFunctions.wordShingles
    val benchToks = spreadDocs(bench)
      .select(explode(wordShingles(col(textCol), k)).as("tok"))
      .distinct()
    spreadDocs(train)
      .select(col(idCol).as("doc_id"),
        explode(wordShingles(col(textCol), k)).as("tok"))
      .join(broadcast(benchToks), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[decontaminate]] for benchmarks too big to broadcast exactly: a
    * Bloom filter over the benchmark shingles (~9.6 bits/shingle at 1%
    * fpp, ~25× smaller than the strings) prefilters the corpus MAP-SIDE
    * — no false negatives, so misses are final — and only the candidate
    * docs explode into the exact verify join, which runs as a SHUFFLE
    * join (neither side broadcasts, so the benchmark can be arbitrarily
    * large). Output is row-identical to [[decontaminate]] (same oracle):
    * Bloom false positives are killed by the verify join, at ~fpp extra
    * join input. Build is one distributed OR-merge aggregation
    * ([[graft.plans.BloomBuildAggregator]]), probe is a codegen'd
    * early-exit loop in the scan stage.
    */
  def decontaminateBloom(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      fpp: Double = 0.01,
      expectedBenchShingles: Option[Long] = None): DataFrame = {
    import graft.functions.TextFunctions.wordShingles
    import graft.plans.BloomShingles
    // benchToks drives three consumers (the sizing count, the Bloom build
    // aggregation, and the exact verify join) — materialize the distinct
    // shingle set once instead of re-shingling the benchmark per consumer
    val benchToks = spreadDocs(bench)
      .select(explode(wordShingles(col(textCol), k)).as("tok"))
      .distinct()
      .transform(Materialize.once)
    val n = expectedBenchShingles.getOrElse(benchToks.count())
    val (bits, numHashes) = BloomShingles.build(benchToks, "tok", n, fpp)
    spreadDocs(train)
      .select(col(idCol).as("doc_id"), wordShingles(col(textCol), k).as("toks"))
      .where(BloomShingles.anyContain(col("toks"), bits, numHashes))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(benchToks.hint("shuffle_hash"), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Gopher-style repetition signals: the fraction of word 1/2/3-grams that
    * are repeats within the document (`(total - distinct) / total`). High
    * values mark boilerplate/spam docs a training pipeline drops. Pure
    * map-side — no shuffle, linear scan, stays in WholeStageCodegen.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = wsTokens(col(textCol))
    // all occurrences (NOT distinct — repetition is the point).
    // token array bound once per gram level + zip_with over shifted
    // slices, never get(ws, i+j) inside a lambda: that re-tokenizes per
    // element × per gram position (the dsirGrams O(n²) class, worst
    // here at k=3). Output strings byte-identical; oracles untouched.
    def grams(n: Int): Column =
      if (n == 1) ws
      else flatten(transform(array(ws), w => {
        def sl(off: Int): Column = slice(w, lit(off), size(w) - (n - 1))
        when(size(w) >= n,
          (2 to n).foldLeft(sl(1)) { (acc, j) =>
            zip_with(acc, sl(j), (a, b) => concat_ws(" ", a, b))
          }).otherwise(array().cast("array<string>"))
      }))
    def dupFrac(g: Column): Column =
      when(size(g) > 0,
        round((size(g) - size(array_distinct(g))).cast("double") /
          size(g).cast("double"), 6))
        .otherwise(lit(0.0))
    spreadDocs(docs).select(
      col(idCol).as("doc_id"),
      size(ws).as("n_words"),
      dupFrac(grams(1)).as("dup_word_frac"),
      dupFrac(grams(2)).as("dup_2gram_frac"),
      dupFrac(grams(3)).as("dup_3gram_frac"))
  }

  /** PII redaction patterns, applied IN THIS ORDER (emails first so an
    * address's dotted host can't be half-eaten by the IP rule). Each
    * pattern is written in the common subset of Java regex (Spark) and
    * RE2 (DuckDB oracles): character classes, bounded repetition, `\b`,
    * non-capturing groups — no lookaround, no backreferences. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}", "<PHONE>"))

  /** PII redaction — the corpus-cleaning stage every production training
    * pipeline runs before anything else: emails, IPv4 addresses, SSNs,
    * and international-format phone numbers are replaced with typed
    * placeholder tokens, and per-category match counts are emitted for
    * the scrub report. Counts are measured on the ORIGINAL text per
    * pattern independently; replacements fold in [[PiiPatterns]] order.
    * Pure map-side codegen'd regex expressions (`regexp_count` /
    * `regexp_replace`) — no shuffle, no UDFs, linear at any corpus size.
    */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val redacted = PiiPatterns.foldLeft(t) { case (c, (_, pat, tok)) =>
      regexp_replace(c, pat, tok)
    }
    spreadDocs(docs).select(
      (col(idCol).as("doc_id") +:
        PiiPatterns.map { case (name, pat, _) =>
          regexp_count(t, lit(pat)).as(s"n_$name")
        }) :+ redacted.as("clean_text"): _*)
  }

  /** Overlapping-window document chunking — the RAG / long-context
    * pretraining splitter: fixed `chunkWords`-word windows advancing by
    * `chunkWords - overlapWords`, each chunk carrying its index, word
    * offset, and actual length (the last window may be short; a window
    * always starts inside the document, so every word lands in ≥ 1
    * chunk and consecutive chunks share exactly `overlapWords` words).
    * One tokenize + one `posexplode` — map-side, no shuffle, output
    * rows ≈ corpus words / stride: linear at any corpus size.
    */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkWords: Int,
      overlapWords: Int): DataFrame = {
    require(chunkWords > 0 && overlapWords >= 0 &&
      overlapWords < chunkWords,
      s"need 0 <= overlapWords < chunkWords: $overlapWords / $chunkWords")
    val stride = chunkWords - overlapWords
    val d = spreadDocs(docs).where(trim(col(textCol)) =!= "")
      .select(col(idCol).as("doc_id"), wsTokens(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("nch",
        when(col("n") <= chunkWords, lit(1L))
          .otherwise(lit(1L) +
            ceil((col("n") - chunkWords).cast("double") / stride)
              .cast("long")))
    d.select(col("doc_id"), col("n"),
        posexplode(transform(sequence(lit(0L), col("nch") - 1),
          i => concat_ws(" ",
            slice(col("ws"), (i * stride + 1).cast("int"),
              lit(chunkWords))))))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        (col("pos").cast("long") * stride).as("word_offset"),
        least(lit(chunkWords.toLong),
          col("n") - col("pos").cast("long") * stride).as("chunk_words"),
        col("col").as("chunk_text"))
  }

  /** Quantile quality gate: drop the lowest `dropFrac` of documents per
    * language by composite quality score (the relative-threshold filter a
    * mixture pipeline applies per subcorpus, rather than one absolute
    * cutoff). Scoring is map-side (single scan — no self-join).
    *
    * Ranking is the DISTRIBUTED two-level form (the pack_sequences
    * prefix-sum idiom): a naive `percent_rank() over (partition by
    * lang)` serializes each language into ONE task — with a handful of
    * languages over a 100 TB corpus that is a single-reducer sort (the
    * x100 sweep measured it at 62× its sf0.1 time). Instead: quality is
    * value-range-bucketed (`floor(quality·B)` — scores live in [0,1], so
    * ties always share a bucket), per-(lang, bucket) counts prefix-sum
    * into bucket offsets on a langs×B-row table, and the ranking window
    * runs per (lang, bucket) with bounded partitions. globalRank =
    * offset + rank-within-bucket reproduces `percent_rank`'s tie
    * semantics exactly — same integers, same double division, same
    * round — so the oracle is unchanged.
    */
  def qualityFilter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      dropFrac: Double,
      rankBuckets: Int = 256): DataFrame = {
    // the regex-heavy scoring scan feeds TWO consumers (the bucket
    // census and the ranking join) — materialize it once; the scored
    // projection carries no text, so the checkpoint is rows × a few
    // numeric columns, the table a production pipeline would persist
    // before ranking anyway. LAZY (eager = false): materialization
    // happens on the caller's first action, not at DataFrame
    // construction — building the plan stays side-effect-free, and the
    // blocks are computed only if the filter is actually executed.
    // Callers own the lifecycle: blocks age out of the block manager
    // under LRU; long-lived sessions issuing many distinct
    // qualityFilter plans can unpersist via `df.rdd.unpersist()`.
    val scored = qualityScore(docs, idCol, textCol, keep = Seq(langCol))
      .withColumn("qb",
        least(floor(col("quality") * rankBuckets), lit(rankBuckets - 1))
          .cast("int"))
      .localCheckpoint(eager = false)
    val counts = scored.groupBy(col(langCol), col("qb"))
      .agg(count(lit(1)).as("bucket_n"))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(langCol).orderBy("qb")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wN = org.apache.spark.sql.expressions.Window.partitionBy(langCol)
    val offsets = counts
      .withColumn("offset", coalesce(sum("bucket_n").over(wOff), lit(0L)))
      .withColumn("lang_n", sum("bucket_n").over(wN))
      .select(col(langCol), col("qb"), col("offset"), col("lang_n"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol), col("qb")).orderBy("quality")
    scored.join(broadcast(offsets), Seq(langCol, "qb"))
      .withColumn("rk", rank().over(wIn))
      .withColumn("q_rank",
        when(col("lang_n") === 1L, lit(0.0))
          .otherwise(round(
            (col("offset") + col("rk") - 1).cast("double") /
              (col("lang_n") - 1).cast("double"), 6)))
      .where(col("q_rank") >= dropFrac)
      .select(col("doc_id"), col(langCol).as("lang"), col("quality"),
        col("q_rank"))
  }

  /** Corpus-composition report — the first thing anyone asks of a training
    * corpus: per (source, token-length bucket), document count, token mass,
    * and the share of the whole corpus each cell holds.
    *
    * Scale shape: bucketing is map-side; the histogram is one
    * map-side-combined hash aggregation over ~|sources|×|buckets| cells;
    * the corpus total joins back as a broadcast single row. At 100 TB the
    * output is still a few hundred rows.
    */
  def corpusStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      bucketWords: Int,
      maxBucket: Int): DataFrame = {
    val nWords = size(wsTokens(col(textCol))).cast("long")
    val bucket = least(expr(s"n_words div ${bucketWords}L"), lit(maxBucket.toLong))
    val cells = docs
      .select(col(sourceCol).as("source"), nWords.as("n_words"))
      .withColumn("len_bucket", bucket)
      .groupBy("source", "len_bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("sum_tokens"),
        min("n_words").as("min_tokens"),
        max("n_words").as("max_tokens"))
    val total = docs.agg(count(lit(1)).cast("double").as("n_total"))
    cells
      .crossJoin(broadcast(total))
      .withColumn("doc_share", round(col("n_docs") / col("n_total"), 6))
      .drop("n_total")
  }

  /** TF-IDF top-k terms per document (keyword extraction — the standard
    * corpus-statistics op of a training-data pipeline):
    * `score = tf · ln(N / df)` with `round(·, 6)` + term tie-break for
    * cross-engine determinism.
    *
    * Scale shape: one shuffle keyed by (doc, term) for tf, one keyed by
    * term for df (both with map-side partial aggregation), a broadcast of
    * the single-row corpus count, and the per-doc rank window. The df
    * dimension joins back on term — at corpus scale this is the shuffle
    * join it should be (term cardinality ~ vocabulary, not corpus size).
    */
  /** Corpus vocabulary census: total token mass, distinct vocabulary size,
    * hapax-legomena count (terms seen exactly once) and the modal term
    * frequency — the Zipf-health numbers a training-mix report leads with.
    * Two hash aggregations: the term census keys on the term (scales with
    * vocabulary, map-side combined, never broadcast), then a single-row
    * fold. Lowercased whitespace tokens, matching the tfidf tokenizer.
    */
  def vocabStats(docs: DataFrame, textCol: String): DataFrame =
    docs
      .where(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(wsTokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .agg(
        sum("tf").as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max("tf").as("max_tf"))

  def tfidfTopTerms(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"), explode(wsTokens(col(textCol))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("doc_id", "rank", "tok", "score")
  }

  /** The DSIR feature bag: unigrams + bigrams over lowercased whitespace
    * tokens, WITH multiplicity. Shared verbatim by the batch weights and
    * the streaming map-side scorer so their sums are identical integers.
    */
  private[graft] def dsirGrams(textCol: Column): Column =
    // the token array is BOUND ONCE as a lambda variable (the
    // wordShingles single-element-transform trick) and bigrams come
    // from zip_with over two shifted slices — NOT transform+get:
    // `get(ws, i)` inside a lambda re-evaluates the whole tokenization
    // per ELEMENT (no common-subexpression elimination across lambda
    // boundaries), which made gram construction O(n²) per document and
    // was the ACTUAL dominant cost of the x100 DSIR pass (the r13 "md5
    // dominates" attribution was wrong — md5 and xxhash64 variants were
    // equally quadratic here). Output strings are byte-identical, so
    // the oracle contract is untouched.
    flatten(transform(array(wsTokens(lower(textCol))), w =>
      concat(w,
        when(size(w) >= 2,
          zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
            (a, b) => concat_ws(" ", a, b)))
          .otherwise(array().cast("array<string>")))))

  /** The DSIR passes do an md5 per GRAM (~100× the doc count) — over a
    * single-file corpus (exactly how the sf-scale documents parquet
    * reads) the explode inherits ONE input partition and the hash loop
    * serializes onto one core. Spread the doc rows first when the input
    * is under half the default parallelism; a well-partitioned 100 TB
    * scan pays nothing (the Tsdb.spread guard, tsdb.go has no analogue —
    * this is pure Spark partitioning hygiene). Exact-integer sums are
    * partitioning-independent, so results are byte-identical.
    */
  private def spreadDocs(docs: DataFrame): DataFrame = Spread(docs)

  /** md5-u32 feature-hash cell of one gram. */
  private[graft] def dsirBucket(
      gram: Column, buckets: Int, salt: String): Column =
    pmod(
      conv(substring(md5(concat(lit(salt), gram)), 1, 8), 16, 10)
        .cast("long"),
      lit(buckets.toLong))

  /** Per-GRAM cell dispatch on the `hash` knob. Only "md5" (the oracle
    * contract) has a gram-string cell definition; the "xx" deployment
    * path's ONLY cell scheme is [[dsirCellsXx]] (token hashes once,
    * bigram cells from long pairs — a DIFFERENT function of the gram
    * than any salted gram-string hash would be), so asking for a
    * per-gram xx cell is a contract error, not a fallback: a caller
    * mixing a gram-wise xx hash with a dsirCellsXx-built factor table
    * would silently score against the wrong cells. */
  private[graft] def dsirCell(
      gram: Column, buckets: Int, salt: String, hash: String): Column =
    hash match {
      case "md5" => dsirBucket(gram, buckets, salt)
      case "xx" => throw new IllegalArgumentException(
        "the xx deployment path has no per-gram cell form — build the " +
        "per-doc cell array with dsirCellsXx (its bigram cells hash " +
        "token-hash PAIRS, not gram strings)")
      case other => throw new IllegalArgumentException(
        s"dsir hash must be 'md5' or 'xx', got '$other'")
    }

  /** The xx deployment path's cell array for one document, computed
    * WITHOUT materializing gram strings: each token is xxhash64'd ONCE
    * (salted), unigram cells come straight from the token hashes, and a
    * bigram's cell hashes the two ADJACENT token hashes as a pair of
    * longs — no `concat_ws` bigram string is ever built. The md5 oracle
    * path materializes ~2n gram strings per doc and hashes each; this
    * form does n string hashes + n long-pair hashes, eliminating the
    * string allocation the bigram leg pays. Same statistical behavior
    * (uniform cells), same output shape (unigrams ++ bigrams — size
    * matches [[dsirGrams]] element-for-element).
    */
  private[graft] def dsirCellsXx(
      textCol: Column, buckets: Int, salt: String): Column = {
    val b = lit(buckets.toLong)
    // token-hash array bound ONCE (the dsirGrams binding trick), then
    // unigram cells by pmod and bigram cells by zip_with over shifted
    // slices — each token hashed exactly once per row, no gram strings
    flatten(transform(
      array(transform(wsTokens(lower(textCol)),
        w => xxhash64(lit(salt), w))),
      th => concat(
        transform(th, h => pmod(h, b)),
        when(size(th) >= 2,
          zip_with(slice(th, lit(1), size(th) - 1), slice(th, lit(2), size(th) - 1),
            (a, c) => pmod(xxhash64(a, c), b)))
          .otherwise(array().cast("array<bigint>")))))
  }

  /** The calibrated factor table behind [[dsirWeights]] — one row per
    * hash cell 0..buckets-1 with the integer micro-nat log-importance
    * factor `floor(ln(p_target(b)/p_raw(b))·1e6 + 0.5)` under
    * Laplace-smoothed cell distributions. Covers EVERY cell (unobserved
    * cells get the smoothing-only factor), so a streaming scorer can
    * look any gram up totally. This is the artifact a production
    * pipeline recalibrates on a batch cadence and ships to the live
    * scorer.
    */
  def dsirFactors(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 1024,
      salt: String = "dsir",
      hash: String = "md5"): DataFrame = {
    require(buckets > 0, s"buckets must be > 0: $buckets")
    val spark = raw.sparkSession
    def cellCt(docs: DataFrame, name: String): DataFrame = {
      // md5 (oracle contract): materialize gram strings, hash each;
      // xx (deployment): per-token hashes only, bigram cells from
      // long pairs — no gram-string allocation (dsirCellsXx)
      val cellRows =
        if (hash == "xx")
          spreadDocs(docs).select(
            explode(dsirCellsXx(col(textCol), buckets, salt)).as("b"))
        else
          spreadDocs(docs)
            .select(explode(dsirGrams(col(textCol))).as("gram"))
            .select(dsirCell(col("gram"), buckets, salt, hash).as("b"))
      cellRows.groupBy("b").agg(count(lit(1)).as(name))
    }
    val rawCt = cellCt(raw, "ct_r")
    val tgtCt = cellCt(target, "ct_t")
    val totals = rawCt.agg(sum(col("ct_r")).as("tot_r"))
      .crossJoin(broadcast(tgtCt.agg(sum(col("ct_t")).as("tot_t"))))
    val b = lit(buckets.toLong)
    spark.range(buckets).select(col("id").as("b"))
      .join(rawCt, Seq("b"), "left_outer")
      .join(tgtCt, Seq("b"), "left_outer")
      .crossJoin(broadcast(totals))
      .withColumn("lr_micro",
        floor(log(
          ((coalesce(col("ct_t"), lit(0L)) + lit(1.0)) *
            (col("tot_r") + b).cast("double")) /
          ((coalesce(col("ct_r"), lit(0L)) + lit(1.0)) *
            (col("tot_t") + b).cast("double")))
          * 1e6 + lit(0.5)).cast("long"))
      .select("b", "lr_micro")
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how much its hashed n-gram bag resembles a
    * TARGET corpus rather than the raw pool — the data-selection stage
    * that upsamples target-domain-like web text before pretraining.
    *
    * Model: unigram+bigram bag over lowercased whitespace tokens, feature-
    * hashed into `buckets` cells via the engine's md5-u32 (bit-identical
    * in every engine, so the DuckDB oracle reproduces the cells exactly).
    * Per cell b, with Laplace-smoothed probabilities
    * `p(b) = (ct_b + 1) / (tot + buckets)` under each corpus, the
    * log-importance factor is `ln(p_target(b) / p_raw(b))`; a document's
    * weight is the sum of its grams' factors.
    *
    * Cross-engine exactness: each cell's factor is ONE `ln` evaluation,
    * quantized to integer micro-nats through the tie-free
    * `floor(x·1e6 + 0.5)` (the tfidf-class transcendental contract); the
    * per-doc weight is then an exact BIGINT sum of micros — no
    * order-dependent double accumulation anywhere.
    *
    * Scale shape: two cell censuses (hash aggregations whose OUTPUT is
    * bounded by `buckets`, map-side combined from gram grain), one
    * broadcast join of the ≤`buckets`-row factor table onto the gram
    * stream (hot cells cost nothing — the join is map-side), and one
    * per-doc aggregation whose partials collapse to doc grain inside each
    * scan partition (a doc's exploded grams never straddle partitions).
    * Nothing is ever pairwise; linear at any corpus size.
    *
    * Returns (doc_id, n_grams, weight_micro, weight) — `weight` is
    * `weight_micro / 1e6` (one exact-constant IEEE division, identical in
    * any engine); positive means "more target-like than the pool".
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 1024,
      salt: String = "dsir",
      hash: String = "md5"): DataFrame = {
    val cellRows =
      if (hash == "xx")
        spreadDocs(raw).select(col(idCol).as("doc_id"),
          explode(dsirCellsXx(col(textCol), buckets, salt)).as("b"))
      else
        spreadDocs(raw).select(
            col(idCol).as("doc_id"),
            explode(dsirGrams(col(textCol))).as("gram"))
          .select(col("doc_id"),
            dsirCell(col("gram"), buckets, salt, hash).as("b"))
    cellRows
      .join(broadcast(dsirFactors(raw, target, idCol, textCol, buckets,
        salt, hash)), "b")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("lr_micro")).as("weight_micro"))
      .withColumn("weight", col("weight_micro") / 1e6)
  }

  /** Train a BPE merge table from the corpus ([[graft.functions.Bpe]],
    * Sennrich et al. 2016). The CORPUS-scale work is ONE word-count hash
    * aggregation over lowercased whitespace tokens (map-side combined;
    * its output is bounded by the VOCABULARY — Heaps' law — not the
    * corpus size); the census is then collected and trained in memory,
    * exactly the artifact-sized single-node pass every production BPE
    * trainer runs. Deterministic: the census is sorted, and the trainer's
    * best-pair order (count desc, pair asc) admits no ties.
    */
  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      numMerges: Int): Seq[(String, String)] = {
    graft.functions.Bpe.train(bpeCensusForProfile(docs, textCol), numMerges)
  }

  /** The word census behind [[bpeTrain]], exposed for stage profiling.
    * The driver-side collect is bounded: a web-scale corpus's distinct-
    * word census is NOT vocabulary-sized (typos, hashes, URLs grow it
    * with the corpus), so the census keeps only the
    * `spark.graft.bpe.censusMaxWords` most frequent words (count desc,
    * word asc — deterministic). The default 4,000,000 is far above every
    * tested census (sf0.1 ≈ 60k, x10 ≈ 637k), so the bound never binds
    * on declared scales — the trained merges are unchanged — while a
    * 100 TB corpus can no longer OOM the driver; singleton tail words
    * cannot win a merge round against the head anyway. When the bound
    * binds (the census has more words than it), one warning names it.
    */
  private[graft] def bpeCensusForProfile(
      docs: DataFrame, textCol: String): Seq[(String, Long)] = {
    val maxWords = docs.sparkSession.conf
      .get("spark.graft.bpe.censusMaxWords", "4000000").toInt
    val rows = spreadDocs(docs)
      .select(explode(wsTokens(lower(col(textCol)))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(if (maxWords < Int.MaxValue) maxWords + 1 else maxWords)
      .collect()
    if (rows.length > maxWords)
      logger.warn(s"BPE word census truncated to the $maxWords most " +
        "frequent words (spark.graft.bpe.censusMaxWords); rarer words are " +
        "left out of merge training")
    rows.take(maxWords).map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
  }

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Segment every document with a FIXED BPE merge table
    * ([[graft.plans.BpeEncode]] — the shipped-tokenizer inference shape)
    * and emit the per-doc accounting the packing/budget stages consume:
    * word count, BPE token count, and an order-sensitive md5 fingerprint
    * of the full token sequence (tokens joined by the 0x1f unit
    * separator) — the column the DuckDB mirror reproduces byte-exactly,
    * proving the segmentation itself, not just its length. Docs with no
    * words are absent (nothing to segment). Entirely map-side.
    */
  def bpeTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    spreadDocs(docs)
      .withColumn("__t",
        graft.plans.BpeEncode.encode(lower(col(textCol)), merges))
      .where(size(col("__t")) > 0)
      .select(col(idCol).as("doc_id"),
        size(filter(wsTokens(lower(col(textCol))), w => w =!= ""))
          .cast("long").as("n_words"),
        size(col("__t")).cast("long").as("n_bpe_tokens"),
        md5(concat_ws("\u001f", col("__t")).cast("binary"))
          .as("tokens_md5"))

  /** Per-document bigram LM events: one `(pfx, big)` struct per adjacent
    * token pair — `pfx` the conditioning (left) token, `big` the
    * space-joined bigram string. The token array is bound ONCE (the
    * wordShingles single-element-transform trick) and the pairs come from
    * `zip_with` over two shifted slices, so construction is linear in
    * document length (the dsirGrams recompute-class rule). Docs with
    * fewer than two tokens produce no events.
    */
  private[graft] def lmEvents(textCol: Column): Column =
    flatten(transform(array(wsTokens(lower(textCol))), w =>
      when(size(w) >= 2,
        zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => struct(a.as("pfx"), concat_ws(" ", a, b).as("big"))))
        .otherwise(array().cast("array<struct<pfx:string,big:string>>"))))

  /** Per-language hashed-bigram language-model factor tables — the
    * calibrated artifact behind [[lmPerplexity]] (CCNet-style perplexity
    * filtering, Wenzek et al. 2020: score web text by the perplexity of a
    * reference-corpus language model, one model per language; CCNet uses
    * per-language Wikipedia KenLMs).
    *
    * Model: add-one-smoothed bigram LM over a feature-hashed vocabulary
    * of `buckets` cells (md5-u32, the engine's cross-engine hash
    * contract — DuckDB reproduces the cells bit-exactly). With
    * `C_pfx(l, a)` the reference count of events whose conditioning token
    * hashes to cell `a` in language `l`, and `C_big(l, g)` the count of
    * events whose bigram string hashes to cell `g`:
    * `p(next | pfx) = (C_big + 1) / (C_pfx + buckets)`. Both legs are
    * quantized to integer micro-nats via the tie-free
    * `floor(ln(·)·1e6 + 0.5)` (the DSIR/tfidf transcendental contract),
    * so per-document cross-entropies are exact BIGINT sums. Feature
    * hashing makes the model approximate (colliding grams pool counts —
    * deterministically, identically in every engine); a pathological
    * collision can put `C_big + 1 > C_pfx + buckets`, so perplexity is
    * not bounded below by 1 in theory (never observed at default sizes).
    *
    * Returns `(uniF, bigF)`: `uniF` covers EVERY (lang, cell) — an
    * unobserved prefix gets the smoothing-only `ln(buckets)` — so scoring
    * joins are total; `bigF` holds observed bigram cells only (an
    * unmatched bigram contributes `ln(0 + 1) = 0` micros via coalesce).
    * Scale: both tables are ≤ |langs|·buckets rows REGARDLESS of corpus
    * size (cell-grain hash aggregations, map-side combined from event
    * grain) — always broadcast-size, and the artifact a production
    * pipeline recalibrates on a batch cadence.
    */
  def lmFactors(
      reference: DataFrame,
      textCol: String,
      langCol: String,
      buckets: Int = 1 << 14,
      salt: String = "lm"): (DataFrame, DataFrame) = {
    require(buckets > 0, s"buckets must be > 0: $buckets")
    val spark = reference.sparkSession
    val ev = spreadDocs(reference).select(
        col(langCol).as("lang"), explode(lmEvents(col(textCol))).as("e"))
      .select(col("lang"),
        dsirBucket(col("e.pfx"), buckets, salt + "u").as("bu"),
        dsirBucket(col("e.big"), buckets, salt + "b").as("bb"))
    val uniCt = ev.groupBy("lang", "bu").agg(count(lit(1)).as("ct_u"))
    val bigCt = ev.groupBy("lang", "bb").agg(count(lit(1)).as("ct_b"))
    val langs = reference.select(col(langCol).as("lang")).distinct()
    val uniF = spark.range(buckets).select(col("id").as("bu"))
      .crossJoin(broadcast(langs))
      .join(uniCt, Seq("lang", "bu"), "left_outer")
      .withColumn("lp_u_micro",
        floor(log(coalesce(col("ct_u"), lit(0L)) + lit(buckets.toDouble))
          * 1e6 + lit(0.5)).cast("long"))
      .select("lang", "bu", "lp_u_micro")
    val bigF = bigCt
      .withColumn("lp_b_micro",
        floor(log(col("ct_b") + lit(1.0)) * 1e6 + lit(0.5)).cast("long"))
      .select("lang", "bb", "lp_b_micro")
    (uniF, bigF)
  }

  /** CCNet-style LM perplexity scoring + head/middle/tail bucketing
    * (Wenzek et al. 2020): each document's per-token cross-entropy under
    * ITS language's reference bigram LM ([[lmFactors]]), then the CCNet
    * cut at the within-language perplexity terciles — `head` (most
    * reference-like third) / `middle` / `tail`, the split CCNet keeps or
    * drops by when composing pretraining corpora.
    *
    * Cross-engine exactness: `h_micro` (the document's total
    * cross-entropy) is an exact BIGINT sum of micro-nat factor
    * differences; `ppl = exp((h_micro/1e6)/n_events)` is two
    * fixed-order IEEE divisions and one `exp`, quantized through the
    * tie-free floor-r6 so a 1-ULP cross-engine `exp` difference cannot
    * surface. The tercile buckets compare `percent_rank` (an exact small
    * rational) against 1/3 and 2/3 over the quantized `ppl` ordering —
    * deterministic and engine-independent.
    *
    * Scale shape: factor build = two cell censuses whose OUTPUT is
    * bounded by |langs|·buckets (map-side combined); scoring = one
    * broadcast join of each factor table onto the event stream and ONE
    * per-doc hash aggregation (a doc's exploded events collapse to doc
    * grain inside its scan partition); bucketing = one window shuffle at
    * DOC grain (not event grain). Nothing is pairwise; linear at any
    * corpus size. Docs with < 2 tokens have no events and are absent
    * from the output (no model probability is defined for them).
    *
    * The registered query self-trains (reference = the pool itself, per
    * language) because the testdata ships no curated reference corpus;
    * in production pass the curated slice (e.g. per-language Wikipedia)
    * as `reference`.
    */
  def lmPerplexity(
      docs: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      buckets: Int = 1 << 14,
      salt: String = "lm"): DataFrame = {
    val (uniF, bigF) = lmFactors(reference, textCol, langCol, buckets, salt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("ppl")
    lmScores(docs, uniF, bigF, idCol, textCol, langCol, buckets, salt)
      .withColumn("pr", percent_rank().over(w))
      .withColumn("ppl_bucket",
        when(col("pr") <= 1.0 / 3, "head")
          .when(col("pr") <= 2.0 / 3, "middle")
          .otherwise("tail"))
      .drop("pr")
  }

  /** The scoring half of [[lmPerplexity]] against ALREADY-BUILT factor
    * tables — the shape a production pipeline runs live: recalibrate
    * [[lmFactors]] on a batch cadence, score documents against the
    * shipped tables (batch here; in-row streaming twin in
    * `streaming.CorpusFilter.lmScoreStream`). Returns one row per doc
    * with ≥ 2 tokens: (doc_id, lang, n_events, h_micro, ppl); docs whose
    * language has no reference slice are dropped (the uni join is inner —
    * no model exists for them).
    */
  def lmScores(
      docs: DataFrame,
      uniF: DataFrame,
      bigF: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      buckets: Int,
      salt: String = "lm"): DataFrame = {
    val ev = spreadDocs(docs).select(
        col(idCol).as("doc_id"), col(langCol).as("lang"),
        explode(lmEvents(col(textCol))).as("e"))
      .select(col("doc_id"), col("lang"),
        dsirBucket(col("e.pfx"), buckets, salt + "u").as("bu"),
        dsirBucket(col("e.big"), buckets, salt + "b").as("bb"))
    ev
      .join(broadcast(uniF), Seq("lang", "bu"))
      .join(broadcast(bigF), Seq("lang", "bb"), "left_outer")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_events"),
        sum(col("lp_u_micro") - coalesce(col("lp_b_micro"), lit(0L)))
          .as("h_micro"))
      .withColumn("ppl",
        floor(exp((col("h_micro") / 1e6) / col("n_events")) * 1e6
          + lit(0.5)) / 1e6)
  }
}
