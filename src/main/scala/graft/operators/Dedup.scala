package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, n-gram Jaccard (exact set-similarity join), MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale notes (designed for ~100 TB / 1000 executors, tested at sf*):
  *  - Nothing here is O(n²) over the corpus except the small embedding
  *    pair-join variants, which exist as correctness baselines; the scale
  *    paths are the inverted-index join (`ngramJaccardPairs`), LSH banding
  *    (`minHashPairs`), and band-blocked SimHash (`simHashPairs`), all of
  *    which shuffle on candidate keys only.
  *  - Token join keys stay strings for oracle-exactness; at PB scale flip
  *    `hashTokens=true` to shuffle 8-byte hashes instead.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per identical (md5 of) content.
    * A pure hash-groupBy — one shuffle on the content hash.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(idCol, "n_copies")

  /** Distinct word k-shingle sets per doc. Input spread before the
    * shingling (the per-row cost center of every consumer): a
    * single-split scan otherwise serializes it on one core.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    Spread(docs).select(
      col(idCol).as("doc_id"),
      wordShingles(col(textCol), k).as("shingles"))

  /** Exact n-gram Jaccard similarity join via an inverted index on shingles
    * (the PPJoin-family formulation): explode shingles, self-join on the
    * token, count common shingles per pair, then
    * `J = common / (|A| + |B| - common)`. Exact — not approximate — and
    * scalable: pairs sharing no shingle are never materialized. Output:
    * `(id1, id2, jaccard)` for pairs with `J >= threshold`.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      hashTokens: Boolean = false,
      maxDocFreq: Option[Long] = None): DataFrame = {
    // localCheckpoint: `sets` feeds the df census, the anti-join, AND both
    // sides of the token self-join — as a lazy plan Catalyst duplicates
    // the whole shingling subtree per reference (the sf0.1 physical plan
    // read the corpus 8 times and re-shingled it per copy; broadcast
    // joins leave no exchange to reuse). One materialization of the
    // per-doc shingle sets (corpus-linear, spills to disk) bounds the
    // shingling at exactly one pass at any scale.
    val sets = shingleSets(docs, idCol, textCol, k)
      .withColumn("n", size(col("shingles")))
      .transform(Materialize.once)
    val tokKey: Column => Column =
      if (hashTokens) xxhash64(_) else identity
    val exAll = sets
      .select(col("doc_id"), col("n"), explode(col("shingles")).as("tok"))
      .withColumn("tok", tokKey(col("tok")))
    // Hot-shingle defense for corpus scale: a shingle appearing in df docs
    // contributes df² rows to the self-join, so boilerplate text makes the
    // exact join quadratic. With a document-frequency cap, shingles with
    // df > cap are dropped from every doc's set and Jaccard is computed
    // over the capped shingle universe (the standard production near-dup
    // trade: boilerplate-only overlap no longer pairs documents). The
    // default (None) keeps the exact semantics for the oracle path.
    val ex = maxDocFreq match {
      case None => exAll
      case Some(cap) =>
        // distinct shingles per doc ⇒ df = row count per token. The hot set
        // is the df>cap heavy hitters; anti-join is a plain shuffle (the
        // hot set is *usually* tiny but is not provably broadcastable).
        val hot = exAll.groupBy("tok")
          .agg(count(lit(1)).as("df"))
          .where(col("df") > cap)
          .select("tok")
        exAll.join(hot, Seq("tok"), "left_anti")
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    }
    // the inverted index feeds both sides of the self-join: materialize it
    // once (posting-list-linear) instead of recomputing the
    // explode + census + anti-join + window chain per side
    val exCk = ex.transform(Materialize.once)
    val a = exCk.as("a")
    val b = exCk.as("b")
    a.join(b, col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(
        count(lit(1)).as("common"),
        first(col("a.n")).as("n1"),
        first(col("b.n")).as("n2"))
      .withColumn("jaccard",
        round(col("common") / (col("n1") + col("n2") - col("common")), 6))
      .where(col("common") / (col("n1") + col("n2") - col("common")) >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** MinHash signatures with the hash family `h_i = xxhash64(xxhash64(tok),
    * i)` (cheap, ANSI-safe — no overflowing arithmetic), computed by the
    * native [[graft.plans.MinHashSignature]] expression: one pass over each
    * row's shingle array inside the scan stage. The equivalent explode +
    * `numHashes`-parallel-`min` groupBy formulation (spec-checked
    * bit-identical) shuffles the whole corpus to reassemble per-doc
    * signatures — a corpus-sized shuffle for what is logically a per-row
    * map, which this form eliminates. Returns (doc_id, sig array<long>).
    */
  def minHashSignatures(
      sets: DataFrame, // (doc_id, shingles)
      numHashes: Int): DataFrame =
    sets.select(col("doc_id"),
      graft.plans.MinHashSignature.signature(col("shingles"), numHashes)
        .as("sig"))

  /** MinHash + LSH banding near-dup pairs: signature → `bands` buckets of
    * `numHashes / bands` rows each → candidates share any (band, bucket) →
    * exact Jaccard verification on the candidates. With 32 bands × 4 rows
    * the miss probability at J≥0.8 is (1-J⁴)³² < 1e-20, and the exact
    * verification step makes the output equal to the exact-join result with
    * overwhelming probability — so the same oracle applies.
    */
  def minHashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      numHashes: Int = 128,
      bands: Int = 32,
      maxBucket: Int = 0): DataFrame = {
    // localCheckpoint: `sets` feeds the banding AND the verification
    // dimension (2×), and `banded` feeds both self-join sides plus the
    // occupancy census — as lazy plans Catalyst duplicates the whole
    // scan → shingle → 128-hash-signature subtree per reference (the
    // sf0.1 physical plan computed the signature 20 times over 44 scans;
    // broadcast joins leave no exchange to reuse). Each materialization
    // is corpus-linear; the signature pass now runs exactly once.
    val sets = shingleSets(docs, idCol, textCol, k)
      .where(size(col("shingles")) > 0)
      .withColumn("n", size(col("shingles")))
      .transform(Materialize.once)
    val banded = bandedBuckets(sets, numHashes, bands, maxBucket)
      .transform(Materialize.once)
    val a = banded.as("a")
    val b = banded.as("b")
    val cands = a
      .join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    verifyJaccard(cands, sets, threshold)
  }

  /** The (doc_id, band, bucket) LSH assignment table shared by the pair
    * and cluster forms. With `maxBucket > 0`, over-cap (band, bucket)
    * cells thin deterministically to ≈ `maxBucket` survivors — the
    * [[graft.operators.Similarity]] occupancy-census idiom: the census
    * shuffle carries distinct buckets (map-side combined), only over-cap
    * cells survive it (≤ corpus/maxBucket rows, broadcastable by
    * construction), and thinning keys on `xxhash64(doc_id)` alone so a
    * surviving doc keeps a CONSISTENT bucket membership across bands.
    * Near-dup mass is exactly what fills a bucket past any cap, so the
    * uncapped pairwise form is quadratic in the worst clique; the cap
    * bounds candidate generation at maxBucket² per cell. APPROXIMATE on
    * over-cap cells by design; under-cap cells are byte-identical.
    */
  private def bandedBuckets(
      sets: DataFrame, // (doc_id, shingles, n)
      numHashes: Int,
      bands: Int,
      maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = minHashSignatures(sets, numHashes)
    val banded0 = sigs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(slice(col("sig"), b * rows + 1, rows), lit(b))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    if (maxBucket <= 0) banded0
    else {
      // the census and the thinning join both consume the assignment
      // table — materialize the (narrow, corpus × bands) table once
      // instead of running the signature pass per consumer
      val banded = banded0.transform(Materialize.once)
      val heavy = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("occ"))
        .where(col("occ") > maxBucket)
        .select(col("band"), col("bucket"),
          ceil(col("occ").cast("double") / maxBucket).cast("long")
            .as("thin_rate"))
      banded.join(broadcast(heavy), Seq("band", "bucket"), "left")
        .where(col("thin_rate").isNull ||
          pmod(xxhash64(col("doc_id")), col("thin_rate")) === 0)
        .drop("thin_rate")
    }
  }

  /** Exact-Jaccard verification of candidate pairs: semi-join the shingle
    * dimension down to the docs that actually appear in a candidate pair
    * FIRST — the full dimension is corpus-sized (unbroadcastable at
    * scale), but the candidate id set is output-sized, so the reduced
    * dimension is small. The joins below then shuffle candidate-sized
    * relations only; Catalyst (with AQE) may still choose to broadcast
    * the *reduced* side, which is the safe direction.
    */
  private def verifyJaccard(
      cands: DataFrame, // (id1, id2)
      sets: DataFrame, // (doc_id, shingles, n)
      threshold: Double): DataFrame = {
    // cands is referenced three times (candIds + the two attach joins) —
    // materialize the (output-sized) pair set once so the candidate
    // generation join does not re-run per reference
    val candsCk = cands.transform(Materialize.once)
    val candIds = candsCk.select(col("id1").as("doc_id"))
      .union(candsCk.select(col("id2").as("doc_id")))
      .distinct()
    val dim = sets.select(col("doc_id"), col("shingles"), col("n"))
      .join(candIds, Seq("doc_id"), "left_semi")
      .transform(Materialize.once)
    val common = size(array_intersect(col("s1"), col("s2")))
    candsCk
      .join(dim.select(col("doc_id").as("id1"),
        col("shingles").as("s1"), col("n").as("n1")), "id1")
      .join(dim.select(col("doc_id").as("id2"),
        col("shingles").as("s2"), col("n").as("n2")), "id2")
      .withColumn("common", common)
      .withColumn("jaccard",
        round(col("common") / (col("n1") + col("n2") - col("common")), 6))
      .where(col("common") / (col("n1") + col("n2") - col("common")) >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Representative-emitting MinHash near-dup CLUSTERS — the 100 TB form
    * of [[minHashPairs]]. Any pair-enumerating plan is quadratic in the
    * worst near-dup clique no matter how good the blocking (a 100-member
    * clique is ~4,950 pairs); this variant never materializes the clique:
    * each (band, bucket) cell emits STAR edges to the cell's minimum doc
    * id — `occupancy − 1` edges where the pairwise form emits
    * `occupancy²` — then exact Jaccard verifies the LINEAR edge set and
    * [[connectedComponentsStar]] closes the transitive clusters in
    * O(log diameter) rounds. Within a cell, star edges connect exactly
    * the same member set as the full pairwise clique, so pre-verification
    * connectivity is identical; post-verification the clusters are a
    * REFINEMENT of the pair-graph components (every surviving star edge
    * is a true ≥-threshold pair, but a spoke similar only to another
    * spoke — not the hub — can split off). Output: (doc_id, component),
    * component = min reachable doc id, like the other cluster forms.
    */
  def minHashClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      numHashes: Int = 128,
      bands: Int = 32): DataFrame = {
    // sets feeds the banding AND the verification dimension — one
    // materialized shingling/signature pass (see minHashPairs)
    val sets = shingleSets(docs, idCol, textCol, k)
      .where(size(col("shingles")) > 0)
      .withColumn("n", size(col("shingles")))
      .transform(Materialize.once)
    val banded = bandedBuckets(sets, numHashes, bands, maxBucket = 0)
    // one hub per cell via a whole-partition window min — ONE exchange of
    // the assignment table, never a self-join
    val edges = banded
      .withColumn("hub",
        min("doc_id").over(Window.partitionBy("band", "bucket")))
      .where(col("doc_id") =!= col("hub"))
      .select(col("hub").as("id1"), col("doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    connectedComponentsStar(verifyJaccard(edges, sets, threshold))
  }

  /** 60-bit SimHash over (all, non-distinct) whitespace tokens, using the
    * portable 60-bit md5-derived token hash so the oracle can reproduce the
    * exact bits: bit j of the simhash is 1 iff
    * `sum over tokens of (bit_j(hash) ? +1 : -1) >= 0`.
    * Computed as 60 parallel conditional-sum aggregations over the exploded
    * tokens — map-side partial aggregation + codegen, one shuffle keyed by
    * doc. Returns (doc_id, sh long).
    */
  val SimHashBits = 60

  def simHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = tokenHash60(col("tok"))
    val votes = (0 until SimHashBits).map(j =>
      sum(when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"v$j"))
    Spread(docs)
      .select(col(idCol).as("doc_id"),
        explode(wsTokens(col(textCol))).as("tok"))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until SimHashBits).map(j =>
          when(col(s"v$j") >= 0, pow2(j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
  }

  private def pow2(j: Int): Column = lit(1L << j)

  /** The (doc_id, sh, band, bucket) SimHash band-assignment table shared
    * by the pair and cluster forms. With `maxBucket > 0`, over-cap
    * (band, bucket) cells thin deterministically to ≈ `maxBucket`
    * survivors — the same occupancy-census idiom as [[bandedBuckets]]:
    * identical simhashes (exact duplicates and replicated corpora)
    * collide in EVERY band, so the uncapped pairwise join is quadratic
    * in the worst collision group; the cap bounds candidates at
    * maxBucket² per cell. Approximate on over-cap cells only; under-cap
    * cells are byte-identical.
    */
  private def simHashBands(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      maxBucket: Int): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = SimHashBits / nBands
    val hashed = simHashes(docs, idCol, textCol)
    val bandCols = (0 until nBands).map(b =>
      shiftrightunsigned(col("sh"), b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1)))
    val banded0 = hashed.select(
      col("doc_id"), col("sh"),
      posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    if (maxBucket <= 0) banded0
    else {
      // census + thinning join both consume the assignment table — one
      // materialized tokenize/simhash pass (see bandedBuckets)
      val banded = banded0.transform(Materialize.once)
      val heavy = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("occ"))
        .where(col("occ") > maxBucket)
        .select(col("band"), col("bucket"),
          ceil(col("occ").cast("double") / maxBucket).cast("long")
            .as("thin_rate"))
      banded.join(broadcast(heavy), Seq("band", "bucket"), "left")
        .where(col("thin_rate").isNull ||
          pmod(xxhash64(col("doc_id")), col("thin_rate")) === 0)
        .drop("thin_rate")
    }
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Blocking: split the 60-bit hash into `maxHamming + 1` bands — by
    * pigeonhole, any pair within the distance agrees on at least one whole
    * band, so the blocking is lossless. Candidates are verified with
    * `bit_count(xor)`.
    *
    * Pair materialization is quadratic in the worst collision group no
    * matter how good the blocking (identical simhashes collide in every
    * band); `maxBucket > 0` bounds it via deterministic occupancy
    * thinning, and [[simHashClusters]] is the representative-emitting
    * form that never materializes cliques at all.
    */
  def simHashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 0): DataFrame = {
    // both self-join sides consume the band table — one materialized
    // tokenize/simhash pass instead of one per side (see minHashPairs)
    val banded = simHashBands(docs, idCol, textCol, maxHamming, maxBucket)
      .transform(Materialize.once)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .dropDuplicates("id1", "id2")
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Representative-emitting SimHash near-dup CLUSTERS — the 100 TB form
    * of [[simHashPairs]], mirroring [[minHashClusters]]: each
    * (band, bucket) cell emits STAR edges to the cell's minimum doc id
    * (`occupancy − 1` edges instead of `occupancy²` pairs), the exact
    * Hamming test `bit_count(xor) <= maxHamming` verifies the LINEAR
    * edge set map-side (both 60-bit hashes ride the edge — no dimension
    * join at all), and [[connectedComponentsStar]] closes the
    * transitive clusters in O(log diameter) rounds. Same
    * refinement-of-pairs contract as the MinHash form, sbt-gated.
    * Output: (doc_id, component = min reachable doc id).
    */
  def simHashClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val banded = simHashBands(docs, idCol, textCol, maxHamming, maxBucket = 0)
    val edges = banded
      .withColumn("hubStruct",
        min(struct(col("doc_id"), col("sh")))
          .over(Window.partitionBy("band", "bucket")))
      .where(col("doc_id") =!= col("hubStruct.doc_id"))
      .where(bit_count(col("sh").bitwiseXOR(col("hubStruct.sh")))
        <= maxHamming)
      .select(col("hubStruct.doc_id").as("id1"), col("doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    connectedComponentsStar(edges)
  }

  /** Connected components over a near-dup pair graph: label every node with
    * the minimum doc id reachable from it, so each transitive duplicate
    * cluster gets one canonical representative (the complete form of
    * "keep one per near-dup group" — pairwise id2-dropping misses chains).
    *
    * Iterative min-label propagation to a fixpoint, O(diameter) rounds
    * (near-dup graphs are shallow), on pair RDDs hash-partitioned by node
    * with one partitioner of `spark.sql.shuffle.partitions` partitions
    * ([[nodePartitioner]]): the edges `(a, b)`, both directions, are
    * partitioned once and persisted; the labels `(id, comp)` share their
    * partitioning. A round is one `zipPartitions` lookup — each edge
    * `(a, b)` proposes `comp(a)` to `b`, from a map of the partition's
    * labels, so memory per partition is bounded by its distinct nodes,
    * never by one node's degree — plus one `reduceByKey(min)` back onto
    * the partitioner. Its Σcomp statistic ([[persistRound]]) is the
    * round's only Spark job; no Catalyst planning runs inside the loop.
    * Output: (doc_id, component) for every doc appearing in a pair, over
    * the persisted last round (consumers re-read it for free).
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    minLabelComponents(pairs).frame

  /** [[connectedComponents]] plus its round count — exposed for the
    * round-complexity spec comparing the two algorithms.
    */
  private[graft] def connectedComponentsRounds(
      pairs: DataFrame): (DataFrame, Int) = {
    val c = minLabelComponents(pairs)
    (c.frame, c.rounds)
  }

  /** A components result: the (doc_id, component) frame, the loop's round
    * count and the frame's row count, read off the last round statistic.
    */
  private[graft] final case class Components(
      frame: DataFrame, rounds: Int, rows: Long)

  /** The min-label loop of [[connectedComponents]]. */
  private[graft] def minLabelComponents(pairs: DataFrame): Components = {
    val part = nodePartitioner(pairs)
    val edges = idPairs(pairs)
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every node starts as its own label; the edges are already
    // partitioned by node, so this reduceByKey adds no shuffle
    var labels = edges
      .mapPartitions(_.map { case (a, _) => (a, a) },
        preservesPartitioning = true)
      .reduceByKey(part, (x, _) => x)
    // (rows, Σcomp): labels only ever decrease, so the sum strictly
    // decreases until the fixpoint; an EMPTY graph folds to (0, 0) and
    // converges immediately
    var prev = persistRound(labels, None)(_._2)
    var converged = false
    var rounds = 0
    while (!converged) {
      val next = labels
        .zipPartitions(edges) { (ls, es) =>
          val comp = scala.collection.mutable.LongMap.from(ls)
          comp.iterator ++ es.map { case (a, b) => (b, comp(a)) }
        }
        .reduceByKey(part, math.min(_, _))
      val st = persistRound(next, Some(labels))(_._2)
      labels = next
      rounds += 1
      converged = st == prev
      prev = st
    }
    edges.unpersist(blocking = false)
    Components(componentFrame(pairs, labels), rounds, prev._1)
  }

  /** The node partitioner both components loops share: hash on the node
    * id over `spark.sql.shuffle.partitions` partitions.
    */
  private def nodePartitioner(pairs: DataFrame): HashPartitioner =
    new HashPartitioner(
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  /** The (id1, id2) columns as a pair RDD, cast to long at entry (any
    * integral id type is accepted); pairs with a null id are dropped.
    */
  private def idPairs(pairs: DataFrame): RDD[(Long, Long)] =
    pairs
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .na.drop()
      .queryExecution.toRdd
      .map(r => (r.getLong(0), r.getLong(1)))

  /** Persist a components round and compute its convergence statistic,
    * (rows, Σ weight), as ONE Spark job (computing it also materializes
    * the persist); the previous round is released once the new one is
    * cached.
    */
  private def persistRound(
      round: RDD[(Long, Long)],
      prev: Option[RDD[(Long, Long)]])(
      weight: ((Long, Long)) => Long): (Long, Long) = {
    round.persist(StorageLevel.MEMORY_AND_DISK)
    val st = round.aggregate((0L, 0L))(
      (acc, e) => (acc._1 + 1L, acc._2 + weight(e)),
      (x, y) => (x._1 + y._1, x._2 + y._2))
    prev.foreach(_.unpersist(blocking = false))
    st
  }

  private def componentFrame(
      pairs: DataFrame, rdd: RDD[(Long, Long)]): DataFrame =
    pairs.sparkSession.createDataFrame(rdd).toDF("doc_id", "component")

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round rewires every node toward the minimum of its
    * neighborhood, halving component depth, so convergence takes
    * O(log diameter) rounds where min-label propagation
    * ([[connectedComponents]]) takes O(diameter) — the difference between
    * 5 and 50 full-edge shuffles on a deep chain at 100 TB. Same output
    * contract: (doc_id, component = min reachable id) for every node in
    * `pairs`; equality with the min-label form is spec-gated, and the
    * registered star query shares the min-label query's DuckDB oracle.
    *
    *  - large-star: for each node u, hang every LARGER neighbor off
    *    m = min(Γ(u) ∪ u) — safe in parallel for all u, halves depth;
    *  - small-star: orient edges toward the smaller endpoint, then hang u
    *    and its smaller neighbors off their minimum — collapses the
    *    two-level trees large-star leaves behind.
    * Fixpoint = a star per component (every node points at its minimum).
    *
    * The edges are an `RDD[(Long, Long)]`; each half-round partitions
    * them by node with the partitioner the min-label loop uses
    * (`spark.sql.shuffle.partitions` partitions, [[nodePartitioner]]) and
    * hangs them off their node's minimum ([[hangOffMin]]: memory per
    * partition bounded by its distinct nodes). A round ends with one
    * `distinct` and a persist, and its (edge count, Σ(u+v)) statistic is
    * its only Spark job; no Catalyst planning runs inside the loop.
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame =
    connectedComponentsStarRounds(pairs)._1

  private[graft] def connectedComponentsStarRounds(
      pairs: DataFrame): (DataFrame, Int) = {
    val part = nodePartitioner(pairs)
    var edges = idPairs(pairs).filter { case (u, v) => u != v }
      .distinct(part.numPartitions)
    // the (edge count, Σ(u+v)) Kiveris potential is non-increasing and
    // strictly decreases until the star fixpoint, so a stable pair means
    // a stable edge set
    var cur = persistRound(edges, None) { case (u, v) => u + v }
    var prev = (-1L, -1L)
    var rounds = 0
    while (cur != prev && rounds < 64) {
      val large = hangOffMin(
        edges.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
          .partitionBy(part),
        large = true)
      // small-star over edges oriented toward the smaller endpoint: the
      // large star emits (v, m) with v > u ≥ m, already oriented
      val small = hangOffMin(large.partitionBy(part), large = false)
      val next = small.distinct()
      prev = cur
      cur = persistRound(next, Some(edges)) { case (u, v) => u + v }
      edges = next
      rounds += 1
    }
    // fixpoint edge set is {(node, root) : node ≠ root}; roots appear only
    // on the v side — attach their self-labels for the full node cover
    val out = edges.flatMap { case (u, v) => Iterator((u, v), (v, v)) }
      .distinct()
    (componentFrame(pairs, out), rounds)
  }

  /** One star half-round over edges `(u, v)` partitioned by u: with
    * m = min(Γ(u) ∪ u) per node (a `reduceByKey` on the edges' own
    * partitioner, so no shuffle), the large star hangs every larger
    * neighbor v > u off m, emitting `(v, m)`; the small star, over edges
    * oriented so that v < u, hangs every v ≠ m and u itself off m. The
    * minima are looked up by `zipPartitions` from a map of the
    * partition's nodes: memory is bounded by the distinct nodes of a
    * partition, never by one node's degree (a hub's edges stream
    * through).
    */
  private def hangOffMin(
      byNode: RDD[(Long, Long)], large: Boolean): RDD[(Long, Long)] = {
    val mins = byNode.reduceByKey(byNode.partitioner.get, math.min(_, _))
    byNode.zipPartitions(mins) { (es, ms) =>
      val m = scala.collection.mutable.LongMap.empty[Long]
      ms.foreach { case (u, x) => m(u) = math.min(u, x) }
      if (large) es.collect { case (u, v) if v > u => (v, m(u)) }
      else es.collect { case (u, v) if v != m(u) => (v, m(u)) } ++ m.iterator
    }
  }

  /** Embedding-cosine near-dup pairs (exact all-pairs baseline). The scale
    * path for ANN-style workloads is [[Similarity.lshTopK]]'s hyperplane
    * bucketing; this exact variant is the correctness baseline and is
    * oracle-checked. Pair generation broadcasts the smaller side when
    * possible; cosine is the sequential-fold double arithmetic of
    * [[graft.functions.VectorFunctions]].
    */
  /** Embedding near-dup pairs via the multiprobe-LSH scale path: the
    * corpus is self-joined through [[Similarity.multiprobePairs]]'s
    * weakness-guided band buckets (map-side signatures, no corpus
    * broadcast, no all-pairs theta join) and only bucket-colliding
    * candidates are exactly verified against the cosine threshold.
    * Approximate by design (recall gated in OperatorSpec against
    * [[embeddingPairs]]); the exact all-pairs form remains the oracle
    * baseline.
    */
  def embeddingPairsLsh(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nPlanes: Int = -1,
      bands: Int = 4,
      probeBits: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions.dotSeq
    val cos = dotSeq(col("qvec"), col("cvec")) / (col("qnrm") * col("cnrm"))
    // auto band width (see Similarity.autoPlanes): for a SELF-join the
    // in-bucket pair cost is occupancy², so keeping occupancy flat as the
    // corpus grows is the difference between linear and quadratic scaling
    val np =
      if (nPlanes > 0) nPlanes else Similarity.autoPlanes(emb.count(), bands)
    Similarity
      .multiprobePairs(emb, emb, idCol, vecCol, np, bands,
        math.min(probeBits, np / bands))
      .where(col("qid") < col("nid"))
      // verify BEFORE the dedup shuffle: every duplicate admit of a pair
      // carries the identical cosine, so filter-then-dedup equals
      // dedup-then-filter — and only the (tiny) passing pair set, with
      // its vectors already shed, flows into the distinct
      .withColumn("cosine", round(cos, 6))
      .where(col("cosine") >= threshold)
      .select(col("qid").as("id1"), col("nid").as("id2"), col("cosine"))
      .dropDuplicates("id1", "id2")
  }

  /** Passage-level dedup (the RefinedWeb/C4 line-dedup pass, generalized to
    * any fixed passage segmentation): cut each document into aligned
    * `chunkWords`-word passages, count how many DISTINCT documents contain
    * each passage corpus-wide, strip every passage appearing in `maxDf` or
    * more documents (boilerplate: headers, navboxes, license blurbs), and
    * reassemble the surviving passages in order. Unlike doc-level near-dup,
    * this removes duplicated CONTENT from otherwise-unique documents.
    *
    * Scale shape: passage explode is map-side; the df census is one
    * map-side-combined hash aggregation keyed by passage; membership is a
    * shuffle hash join on the passage key (the df table scales with the
    * DISTINCT passage vocabulary, not the corpus — never broadcast);
    * reassembly is one aggregation keyed by doc. No window over more than a
    * document, no state beyond a passage's postings. Output: `(doc_id,
    * clean_text, n_passages, n_dropped)` for every input document —
    * fully-boilerplate docs survive with empty `clean_text`.
    */
  def dedupPassages(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkWords: Int,
      maxDf: Int): DataFrame = {
    require(chunkWords > 0 && maxDf > 1, "chunkWords > 0, maxDf > 1")
    val docsS = Spread(docs)
    val ws = wsTokens(col(textCol))
    val nch = ceil(size(ws) / lit(chunkWords.toDouble)).cast("long")
    val chunks = transform(
      sequence(lit(0L), nch - 1),
      i => concat_ws(" ",
        slice(ws, (i * chunkWords + 1).cast("int"), lit(chunkWords))))
    val exploded = docsS
      .select(col(idCol).as("doc_id"), posexplode(chunks).as(Seq("idx", "passage")))
    val dfCensus = exploded
      .groupBy("passage")
      .agg(countDistinct("doc_id").as("df"))
      .where(col("df") < maxDf)
      .select("passage")
    val reassembled = exploded
      .join(dfCensus, "passage")
      .groupBy("doc_id")
      .agg(
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("idx"), col("passage")))),
            s => s.getField("passage"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    docsS
      .select(col(idCol).as("doc_id"), nch.as("n_passages"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_passages"),
        (col("n_passages") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** SemDeDup-style semantic near-dup pairs over a PREBUILT IVF index
    * ([[graft.operators.Similarity.buildIvfIndex]]): vectors compare only
    * within their k-means cell (the SemDeDup blocking), exact cosine
    * verifies each candidate. Reuses the same cell-partitioned store the
    * ANN probes read, so one index build amortizes across search AND dedup.
    *
    * Approximate by blocking — a cross-cell pair is never considered
    * (spec-gated recall vs the exact all-pairs twin). Scale: ONE shuffle
    * keyed on cell; per-task work is bounded by cell occupancy² and cells
    * shrink as k grows with the corpus.
    */
  def embeddingPairsIvf(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      threshold: Double,
      nAssign: Int = 2): DataFrame = {
    val cells = spark.read.parquet(s"$indexPath/cells")
    val cents = spark.read.parquet(s"$indexPath/centroids")
      .select(col("cell").as("bcell"), col("centroid"))
    // soft assignment (IVF spilling): re-rank the broadcast centroids and
    // block each vector into its nAssign nearest cells — near-dups sitting
    // on a cell boundary then still meet in at least one shared cell. The
    // centroid scoring is map-side; the rank is one nid-keyed window.
    val w = Window.partitionBy("nid").orderBy(col("cdist").desc, col("bcell"))
    val assigned = cells.select("nid", "cvec", "cnrm")
      .crossJoin(broadcast(cents))
      .withColumn("cdist",
        dotSeq(col("cvec"), col("centroid")) /
          (col("cnrm") * graft.functions.VectorFunctions.normSeq(col("centroid"))))
      .withColumn("r", row_number().over(w))
      .where(col("r") <= nAssign)
      .select(col("bcell").as("cell"), col("nid"), col("cvec"), col("cnrm"))
    val b = assigned.select(col("cell"), col("nid").as("id2"),
      col("cvec").as("v2"), col("cnrm").as("n2"))
    assigned.select(col("cell"), col("nid").as("id1"),
        col("cvec").as("v1"), col("cnrm").as("n1"))
      .join(b, "cell")
      .where(col("id1") < col("id2"))
      // verify BEFORE dedup: duplicate admits of a pair (two shared cells)
      // carry identical cosines, so filter-then-dedup == dedup-then-filter
      .withColumn("cosine",
        round(dotSeq(col("v1"), col("v2")) / (col("n1") * col("n2")), 6))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
      .dropDuplicates("id1", "id2")
  }

  def embeddingPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    // precompute each vector's norm ONCE (identical double value to
    // recomputing it per pair, so oracle-exactness is preserved), then the
    // per-pair work is a single native dot product.
    val v = Spread(emb)
      .select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("vec"))
      .withColumn("nrm", normSeq(col("vec")))
    val a = v.as("a")
    val b = v.as("b")
    val cos = dotSeq(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm"))
    a.join(b, col("a.id") < col("b.id"))
      .where(cos >= threshold)
      .select(
        col("a.id").as("id1"), col("b.id").as("id2"),
        round(cos, 6).as("cosine"))
  }
}
