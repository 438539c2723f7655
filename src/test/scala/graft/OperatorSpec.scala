package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, EventOps, Similarity}
import graft.sources.Tables

/** Operator-level tests over the shared sf0.001 tables: near-dup detection
  * agreement across methods, ANN recall, as-of join vs naive reference.
  */
class OperatorSpec extends SparkSuite {

  lazy val docs = Tables.documents(spark, sf0001)
  lazy val emb = Tables.embeddings(spark, sf0001)

  lazy val exactPairs: Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ngram jaccard finds the planted near-dup pairs") {
    assert(exactPairs.nonEmpty)
  }

  test("minhash LSH + exact verification equals the exact jaccard join") {
    val lsh = Dedup.minHashPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exactPairs)
  }

  test("capped minhash pairs are a deterministic subset of the exact " +
      "join; under-cap corpora are byte-identical") {
    val capped = Dedup.minHashPairs(docs, "doc_id", "text", 3, 0.8,
        maxBucket = 16)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every emitted pair is a true >=-threshold pair (verification is
    // exact; the cap can only REMOVE candidates)
    assert(capped.subsetOf(exactPairs), "cap emitted a non-exact pair")
    // deterministic: same thinning twice
    val again = Dedup.minHashPairs(docs, "doc_id", "text", 3, 0.8,
        maxBucket = 16)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == again)
    // a cap far above any cell occupancy changes nothing
    val loose = Dedup.minHashPairs(docs, "doc_id", "text", 3, 0.8,
        maxBucket = 1000000)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == exactPairs)
  }

  test("minhash star clusters refine the exact pair-graph components " +
      "and bound per-cell edge emission linearly") {
    val exactComp = Dedup.connectedComponentsStar(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.minHashClusters(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // refinement: docs the star form co-clusters are co-clustered exactly
    // (every surviving star edge is a true >=-threshold pair)
    assert(star.keySet.subsetOf(exactComp.keySet))
    star.groupBy(_._2).values.foreach { members =>
      val exactLabels = members.keys.map(exactComp).toSet
      assert(exactLabels.size == 1,
        s"star cluster spans exact components: $members")
    }
    // on the fixture's high-J near-dup groups the star form loses
    // nothing: identical doc coverage and identical clusters
    assert(star.keySet == exactComp.keySet,
      s"star coverage ${star.keySet.size} vs exact ${exactComp.keySet.size}")
    val starGroups =
      star.groupBy(_._2).values.map(_.keys.toSet).toSet
    val exactGroups =
      exactComp.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(starGroups == exactGroups)
    // the SAME equality on the sf0.01 corpus — the one the driver's
    // DuckDB oracle compares against. dedup_minhash_clusters is oracled
    // by the full exact-pair closure (OracleSql), which is only sound
    // while star-verified hub edges connect exactly the exact-closure
    // components; this pin makes any drift fail the suite BEFORE the
    // driver's hash compare does (the structural guarantee is
    // refinement-only: a hub edge failing exact Jaccard while a
    // non-hub pair passes would split a cluster).
    val docs01 = Tables.documents(spark, "/root/testdata/sf0.01")
    val star01 = Dedup.minHashClusters(docs01, "doc_id", "text", 3, 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact01 = Dedup.connectedComponentsStar(
        Dedup.ngramJaccardPairs(docs01, "doc_id", "text", 3, 0.8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star01 == exact01,
      s"sf0.01 star clusters diverge from the exact closure: " +
      s"${star01.size} vs ${exact01.size} docs")
  }

  test("connected components equals driver-side union-find") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive union-find on the driver
    val es = exactPairs.toSeq
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    assert(got == expected)
  }

  test("large-star/small-star components equal min-label propagation") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val viaStar = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaMinLabel = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaMinLabel && viaStar.nonEmpty)
  }

  test("connected components accept IntegerType ids") {
    import spark.implicits._
    // two components {1, 2, 3} and {7, 9}; ids typed int, not long
    val pairs = Seq((2, 1), (3, 2), (9, 7)).toDF("id1", "id2")
    assert(pairs.schema("id1").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(Dedup.connectedComponents(pairs)) == want)
    assert(got(Dedup.connectedComponentsStar(pairs)) == want)
  }

  test("star components converge in O(log d) rounds on a 20-deep chain") {
    import spark.implicits._
    // planted path graph 0-1-2-…-20: diameter 20
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (starOut, starRounds) = Dedup.connectedComponentsStarRounds(chain)
    val (mlOut, mlRounds) = Dedup.connectedComponentsRounds(chain)
    val star = starOut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ml = mlOut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == (0L to 20L).map(_ -> 0L).toMap)
    assert(star == ml)
    // min-label needs ~diameter rounds; the star form collapses the chain
    // in logarithmically few
    assert(mlRounds >= 10, s"min-label rounds = $mlRounds")
    assert(starRounds <= 7, s"star rounds = $starRounds")
  }

  /** Spark jobs `body` launches, counted by a listener on a private job
    * group (a sentinel job drains the listener bus before reading).
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"count-${System.nanoTime}"
    val sentinel = s"sentinel-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobGroup(sentinel, "sentinel")
      spark.range(1).collect()
      sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Driver-side union-find reference: node -> min reachable node. */
  private def unionFindComponents(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    es.flatMap(p => Seq(p._1, p._2)).distinct.map(n => n -> find(n)).toMap
  }

  test("each round of both components loops is one Spark job") {
    import spark.implicits._
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("id1", "id2")
    val ((_, starRounds), starJobs) =
      jobsOf(Dedup.connectedComponentsStarRounds(chain))
    val ((_, mlRounds), mlJobs) =
      jobsOf(Dedup.connectedComponentsRounds(chain))
    // one set-up job (the distinct input edges, or the initial labels,
    // persisted with their statistic), then exactly one job per round
    assert(starJobs == starRounds + 1,
      s"star: $starJobs jobs over $starRounds rounds")
    assert(mlJobs == mlRounds + 1,
      s"min-label: $mlJobs jobs over $mlRounds rounds")
  }

  test("both components loops equal union-find on a 50,000-spoke hub, " +
      "a 20-deep chain and a disjoint triangle") {
    import spark.implicits._
    // the hub is not its component's minimum (spoke 1,000,000 is), so
    // every spoke must be rehung through the hub's 50,000-edge node
    val hub = 1025000L
    val spokes = (1000000L to 1050000L).filter(_ != hub).zipWithIndex
      .map { case (s, i) => if (i % 2 == 0) (s, hub) else (hub, s) }
    val chain = (0L until 20L).map(i => (i + 1, i))
    val triangle = Seq((500L, 501L), (502L, 501L), (500L, 502L))
    val es = spokes ++ chain ++ triangle
    assert(spokes.size == 50000)
    val want = unionFindComponents(es)
    val pairs = es.toDF("id1", "id2")
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(Dedup.connectedComponentsStar(pairs)) == want)
    assert(got(Dedup.connectedComponents(pairs)) == want)
  }

  test("pipeline_keep_best broadcasts the components only under the " +
      "broadcast threshold, with the same rows either way") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    // AQE's runtime conversion would broadcast the tiny representative
    // stage in both runs; with it off, the plan's broadcasts are the pins
    val aqeKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val saved = Seq(key, aqeKey).map(k => k -> spark.conf.getOption(k))
    val rows = Dedup.minLabelComponents(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8,
        hashTokens = true, maxDocFreq = Some(5L))).rows
    assert(rows > 0)
    def run(thr: Long): (Seq[org.apache.spark.sql.Row], String) = {
      spark.conf.set(key, thr.toString)
      val df = SparkEntry.queries("pipeline_keep_best")(spark, sf0001)
      val out = df.collect().toSeq
      (out, df.queryExecution.executedPlan.toString)
    }
    try {
      spark.conf.set(aqeKey, "-1")
      val (below, belowPlan) = run(rows * 16 - 1)
      val (above, abovePlan) = run(rows * 16)
      assert(below.nonEmpty && below == above)
      assert(!belowPlan.contains("Broadcast"), belowPlan)
      assert(abovePlan.contains("BroadcastHashJoin"), abovePlan)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("Spread spreads an exchange-free single-split frame and passes " +
      "exchange-bearing ones through without a Spark job") {
    val scan = spark.range(0, 1000, 1, 1).toDF("id")
    // one split is under half the default parallelism from 3 cores up
    // (the suites share one session, whose core count may be 2)
    val spreadScan = graft.operators.Spread(scan)
    assert(spreadScan.queryExecution.executedPlan.toString.toLowerCase
      .contains("roundrobin") ==
      (spark.sparkContext.defaultParallelism > 2))
    // a limit under a filter plans an exchange to one partition; a
    // crossJoin against a small side plans a broadcast exchange
    val limited = scan.limit(5).where(col("id") % 2 === 0)
    val crossed = scan.crossJoin(spark.range(3).toDF("k"))
    Seq(limited, crossed).foreach { df =>
      val (out, jobs) = jobsOf(graft.operators.Spread(df))
      assert(out eq df)
      assert(jobs == 0, s"$jobs jobs deciding to spread\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("simhash near-dups are a subset-consistent view of true near-dups") {
    val sim = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash(hamming<=3) is a different similarity notion; require that it
    // (a) finds something and (b) mostly agrees with true jaccard near-dups
    assert(sim.nonEmpty)
    val overlap = sim.intersect(exactPairs).size.toDouble / sim.size
    assert(overlap >= 0.8, s"simhash precision vs jaccard pairs = $overlap")
  }

  test("native MinHash signature equals the explode+groupBy formulation") {
    // the hash family must be bit-identical between the one-pass native
    // expression and the SQL form min(xxhash64(xxhash64(tok), i))
    val numHashes = 32
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
      .where(size(col("shingles")) > 0)
    val viaExpr = Dedup.minHashSignatures(sets, numHashes)
      .collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Long]](1).toSeq)).toMap
    val h = xxhash64(col("tok"))
    val mins = (0 until numHashes).map(i => min(xxhash64(h, lit(i))).as(s"m$i"))
    val viaAgg = sets
      .select(col("doc_id"), explode(col("shingles")).as("tok"))
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .collect().map(r => (r.getLong(0),
        (0 until numHashes).map(i => r.getLong(i + 1)))).toMap
    assert(viaExpr == viaAgg && viaExpr.nonEmpty)
  }

  test("exact dedup keeps one representative per distinct text") {
    val n = Dedup.exact(docs, "doc_id", "text").count()
    assert(n == docs.select("text").distinct().count())
  }

  test("SQ8 quantization: bounded reconstruction error, near-1 cosine, " +
      "and high top-k recall on the dequantized corpus") {
    val qz = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    assert(qz.count() == emb.count()) // no zero vectors in the fixture
    // per-element error bound is scale/2 by round-to-nearest construction
    import graft.functions.VectorFunctions._
    val viol = qz.where(
      aggregate(zip_with(toDoubleArray(col("embedding")), col("dvec"),
          (a, b) => abs(a - b)), lit(0.0), (m, x) => greatest(m, x))
        > col("scale") / 2 + lit(1e-12)).count()
    assert(viol == 0, s"$viol vectors exceed the scale/2 error bound")
    // codes are genuinely int8-ranged
    val oob = qz.where(exists(col("qvec"),
      q => q > 127 || q < -127)).count()
    assert(oob == 0, s"$oob vectors carry out-of-range codes")
    // direction preserved: worst-case cosine(original, dequant) near 1
    val e = toDoubleArray(col("embedding"))
    val minCos = qz
      .select((dotSeq(e, col("dvec")) /
        (normSeq(e) * normSeq(col("dvec")))).as("c"))
      .agg(min("c")).head().getDouble(0)
    assert(minCos >= 0.999, s"worst dequant cosine = $minCos")
    // search on the 4x-smaller form: top-k over dequantized vectors
    // recalls the exact float top-k almost perfectly
    val queries = emb.where(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qCorpus = qz.select(col("vec_id"), col("dvec"))
    val sq = Similarity.bruteForceTopK(qCorpus,
        qCorpus.where(col("vec_id") % 50 === 0), "vec_id", "dvec", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = sq.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.95, s"SQ8 recall vs float brute force = $recall")
  }

  test("ANN LSH top-k has reasonable recall vs brute force") {
    val queries = emb.where(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = lsh.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.3, s"LSH recall vs brute force = $recall")
    // every LSH result must at least be a real corpus pair, rank <= 5
    assert(lsh.nonEmpty)
  }

  test("multiprobe LSH (registered params) has recall@5 >= 0.9") {
    val queries = emb.where(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mp = Similarity.multiprobeTopK(emb, queries, "vec_id", "embedding", 5,
        nPlanes = 24, bands = 4, probeBits = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = mp.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.9, s"multiprobe recall vs brute force = $recall")
    // and the index is genuinely sub-complete: candidate admission must be
    // well below the full cross join even on this isotropic corpus
    val frac = Similarity.multiprobeCandidates(emb, queries, "vec_id",
        "embedding", nPlanes = 24, bands = 4, probeBits = 4).count().toDouble /
      (emb.count() * queries.count())
    assert(frac <= 0.8, s"candidate fraction = $frac")
  }

  test("IVF ANN has reasonable recall vs brute force") {
    val queries = emb.where(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.4, s"IVF recall vs brute force = $recall")
  }

  test("embedding LSH near-dup recall vs the exact all-pairs join") {
    val exact = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.45)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", 0.45)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // every LSH pair is a true pair (exact verification step)…
    assert(lsh.subsetOf(exact), (lsh -- exact).toString)
    // …and the banding finds nearly all of them on this corpus
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"embedding LSH recall = $recall")
  }

  test("SemDeDup IVF-cell pairs are a high-recall subset of the exact join") {
    val exact = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.45)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("dedup_embedding_ivf")(spark, sf0001)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // cell blocking never invents a pair (exact cosine verification)…
    assert(ivf.subsetOf(exact), (ivf -- exact).toString)
    // …and near-dups at cosine >= 0.45 mostly share a k-means cell
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"SemDeDup recall = $recall")
  }

  test("persisted IVF probe path matches in-memory ivfTopK recall contract") {
    val queries = emb.where(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the registered query: build-once index + probe-only execution
    val ivf = SparkEntry.queries("ann_topk_ivf")(spark, sf0001)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.4, s"persisted-IVF recall vs brute force = $recall")
    // and a second invocation (index now certainly on disk) is identical —
    // the probe is a pure function of the persisted index
    val again = SparkEntry.queries("ann_topk_ivf")(spark, sf0001)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
    // the SQ8 probe (int8 cells, on-the-fly dequant) probes the SAME
    // cells, so its neighbor set tracks the float probe's almost
    // perfectly (per-vector dequant cosine >= 0.999) and its recall vs
    // brute force matches the float gate
    val sq8 = SparkEntry.queries("ann_topk_ivf_sq8")(spark, sf0001)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallSq8 = sq8.intersect(bf).size.toDouble / bf.size
    assert(recallSq8 >= 0.4, s"SQ8-IVF recall vs brute force = $recallSq8")
    val agree = sq8.intersect(ivf).size.toDouble / ivf.size
    assert(agree >= 0.95, s"SQ8 probe diverges from the float probe: $agree")
  }

  test("IVF index freshness: appending to the corpus rebuilds the index " +
      "and the probe sees the new vectors") {
    import spark.implicits._
    // tiny deterministic corpus on two well-separated axes
    def vec(axis: Int, eps: Double) =
      Array.tabulate(8)(i =>
        (if (i == axis) 1.0 else 0.0) + (if (i == 7) eps else 0.0))
    val v0 = (0L until 20L).map(i => (i, vec(0, 0.01 * i)))
    val path = tempDir("ivf_fresh")
    val c1 = v0.toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(c1, "vec_id", "embedding", 2, path)
    val q = Seq((999L, vec(3, 0.0))).toDF("vec_id", "embedding")
    val before = Similarity
      .ivfProbeTopK(spark, path, q, "vec_id", "embedding", 3, nProbe = 2)
      .select("nid").collect().map(_.getLong(0)).toSet
    // append vectors on a NEW axis that exactly matches the query
    val c2 = (v0 ++ (100L until 110L).map(i => (i, vec(3, 0.0))))
      .toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(c2, "vec_id", "embedding", 2, path)
    val after = Similarity
      .ivfProbeTopK(spark, path, q, "vec_id", "embedding", 3, nProbe = 2)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(before.forall(_ < 100L))
    assert(after.nonEmpty && after.forall(_ >= 100L),
      s"stale index? got $after")
    // unchanged corpus: ensure is a no-op (fingerprint match — the cells
    // store keeps its files)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def cellFiles() = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/cells"), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.toSet
    }
    val files1 = cellFiles()
    Similarity.ensureIvfIndex(c2, "vec_id", "embedding", 2, path)
    assert(cellFiles() == files1, "fresh index was rebuilt needlessly")

    // file-backed corpus: freshness comes from file METADATA (no corpus
    // scan) — a parquet append flips the fingerprint and rebuilds; an
    // unchanged directory is a no-op
    val corpusDir = tempDir("ivf_fresh_corpus")
    val path2 = tempDir("ivf_fresh_fileidx")
    c1.write.mode("overwrite").parquet(corpusDir)
    val pq1 = spark.read.parquet(corpusDir)
    Similarity.ensureIvfIndex(pq1, "vec_id", "embedding", 2, path2)
    def cellFiles2() = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$path2/cells"), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.toSet
    }
    val f1 = cellFiles2()
    Similarity.ensureIvfIndex(
      spark.read.parquet(corpusDir), "vec_id", "embedding", 2, path2)
    assert(cellFiles2() == f1, "file-backed fresh index rebuilt needlessly")
    (100L until 110L).map(i => (i, vec(3, 0.0))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(corpusDir)
    Similarity.ensureIvfIndex(
      spark.read.parquet(corpusDir), "vec_id", "embedding", 2, path2)
    val after2 = Similarity
      .ivfProbeTopK(spark, path2, q, "vec_id", "embedding", 3, nProbe = 2)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(after2.nonEmpty && after2.forall(_ >= 100L),
      s"file-backed append not detected: $after2")
  }

  test("IVF append: new vectors probeable WITHOUT retraining; a " +
      "following ensure is a no-op") {
    import spark.implicits._
    def vec(axis: Int, eps: Double) =
      Array.tabulate(8)(i =>
        (if (i == axis) 1.0 else 0.0) + (if (i == 7) eps else 0.0))
    // train on two separated axes so k=2 centroids land on them
    val v0 = (0L until 10L).map(i => (i, vec(0, 0.01 * i))) ++
      (10L until 20L).map(i => (i, vec(3, 0.01 * (i - 10))))
    val path = tempDir("ivf_append")
    val c1 = v0.toDF("vec_id", "embedding")
    Similarity.ensureIvfIndex(c1, "vec_id", "embedding", 2, path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def listing(sub: String) = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$path/$sub"), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.toSet
    }
    val centroidsBefore = listing("centroids")
    // append axis-3-like vectors: assigned to the axis-3 cell, no k-means
    val extra = (100L until 105L).map(i => (i, vec(3, 0.0)))
      .toDF("vec_id", "embedding")
    val full = (v0 ++ (100L until 105L).map(i => (i, vec(3, 0.0))))
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(full, extra, "vec_id", "embedding", path)
    // the exact-match query now finds the appended ids (k=6: the indexed
    // id-10 vector is also an exact match and ties at sim 1.0)
    val q = Seq((999L, vec(3, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity
      .ivfProbeTopK(spark, path, q, "vec_id", "embedding", 6, nProbe = 1)
      .select("nid", "sim").collect()
    val top = got.filter(_.getDouble(1) >= 0.999999).map(_.getLong(0)).toSet
    assert((100L until 105L).toSet.subsetOf(top),
      s"appended vectors not served: ${got.mkString(", ")}")
    // centroids untouched (no retrain), and ensure() on the full corpus
    // matches the stamped fingerprint — no rebuild
    assert(listing("centroids") == centroidsBefore)
    val cellsAfterAppend = listing("cells")
    Similarity.ensureIvfIndex(full, "vec_id", "embedding", 2, path)
    assert(listing("cells") == cellsAfterAppend,
      "ensure retrained after an append that stamped the fingerprint")
  }

  test("IVF freshness: a mixed file-and-memory corpus takes the content " +
      "fingerprint, so files-only staleness can't hide appended rows") {
    import spark.implicits._
    def vec(axis: Int, eps: Double) =
      Array.tabulate(8)(i =>
        (if (i == axis) 1.0 else 0.0) + (if (i == 7) eps else 0.0))
    val corpusDir = tempDir("ivf_mixed_corpus")
    val path = tempDir("ivf_mixed_idx")
    ((0L until 5L).map(i => (i, vec(0, 0.01 * i))) ++
      (5L until 10L).map(i => (i, vec(3, 0.01 * (i - 5)))))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)
    val fileCorpus = spark.read.parquet(corpusDir)
    Similarity.ensureIvfIndex(fileCorpus, "vec_id", "embedding", 2, path)
    val extra = Seq((100L, vec(3, 0.0))).toDF("vec_id", "embedding")
    val full = fileCorpus.unionByName(extra)
    Similarity.appendToIvfIndex(full, extra, "vec_id", "embedding", path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def cellFiles() = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$path/cells"), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.toSet
    }
    // the mixed full corpus matches the stamped CONTENT fingerprint
    val f1 = cellFiles()
    Similarity.ensureIvfIndex(full, "vec_id", "embedding", 2, path)
    assert(cellFiles() == f1, "fresh mixed corpus was rebuilt needlessly")
    // the bare FILE corpus no longer matches (the index holds one more
    // row than the files): ensure must rebuild, never serve it silently
    Similarity.ensureIvfIndex(fileCorpus, "vec_id", "embedding", 2, path)
    assert(cellFiles() != f1,
      "files-tier fingerprint hid the appended in-memory rows")
  }

  test("clustered corpus: LSH and IVF reach recall >= 0.9 and stay selective") {
    val exact = SparkEntry.queries("ann_clustered_agg")(spark, sf0001)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val lsh = SparkEntry.queries("ann_clustered_lsh")(spark, sf0001)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRecall = lsh.intersect(exact).size.toDouble / exact.size
    assert(lshRecall >= 0.9, s"clustered LSH recall = $lshRecall")
    val ivf = SparkEntry.queries("ann_clustered_ivf")(spark, sf0001)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = ivf.intersect(exact).size.toDouble / exact.size
    assert(ivfRecall >= 0.9, s"clustered IVF recall = $ivfRecall")
    // the point of the planted clusters: the SAME banding that admits ~67%
    // of pairs on the isotropic corpus is an order of magnitude more
    // selective when the data actually clusters
    val c = graft.sources.ClusteredEmbeddings.ensure(spark, sf0001)
    val queries = c.where(col("vec_id") % 50 === 0)
    val frac = Similarity.multiprobeCandidates(c, queries, "vec_id",
        "embedding", nPlanes = 48, bands = 4, probeBits = 2).count().toDouble /
      (c.count() * queries.count())
    assert(frac <= 0.1, s"clustered candidate fraction = $frac")
  }

  test("maxBucket caps in-bucket LSH candidate generation deterministically") {
    // a corpus whose clusters (~n/32 members) far exceed the cap: every
    // cluster bucket is heavy, so the census-thinning path engages
    val c = graft.sources.ClusteredEmbeddings.generate(spark, 5000L)
      .localCheckpoint()
    val queries = c.where(col("vec_id") % 100 === 0)
    val nQ = queries.count()
    val capped = Similarity.multiprobeCandidates(c, queries, "vec_id",
      "embedding", nPlanes = 24, bands = 4, probeBits = 0, maxBucket = 32)
    val uncapped = Similarity.multiprobeCandidates(c, queries, "vec_id",
      "embedding", nPlanes = 24, bands = 4, probeBits = 0)
    // admission per query is bounded by ~bands × maxBucket (hash thinning
    // keeps ≈ occ/rate ≤ ~2×maxBucket per bucket), independent of the
    // ~156-member clusters the uncapped path admits wholesale
    val maxPerQuery = capped.groupBy("qid").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxPerQuery <= 4L * 32 * 2, s"capped admission = $maxPerQuery")
    assert(capped.count() < uncapped.count(),
      "cap did not reduce admission on an over-cap corpus")
    // deterministic: the hash-ordered thinning yields the same set twice
    val a = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.multiprobeCandidates(c, queries, "vec_id",
        "embedding", nPlanes = 24, bands = 4, probeBits = 0, maxBucket = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // the capped top-k still returns k ranked rows per query
    val topk = Similarity.multiprobeTopK(c, queries, "vec_id", "embedding",
      5, nPlanes = 24, bands = 4, probeBits = 0, maxBucket = 32)
    assert(topk.groupBy("qid").count().where(col("count") =!= 5).count()
      == 0L)
    assert(topk.select("qid").distinct().count() == nQ)
  }

  test("multiprobe LSH on an empty corpus returns an empty result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    assert(Similarity.multiprobeTopK(
      empty, empty, "vec_id", "embedding", 5).count() == 0)
  }

  test("as-of join matches a naive per-row reference") {
    val e = Tables.events(spark, sf0001)
    val clicks = e.where(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("p_value"))
    val got = EventOps.asOfJoinBackward(clicks, purchases, "user_id", "ts",
        Seq("p_value"))
      .select(col("event_id"), col("matched").getField("p_value").as("p_value"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // naive reference computed on the driver (small sf only)
    val cl = clicks.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pu = purchases.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    cl.foreach { case (uid, eid, ts) =>
      val cand = pu.filter(p => p._1 == uid && p._2 <= ts)
      val expected = if (cand.isEmpty) None else Some(cand.maxBy(_._2)._3)
      assert(got(eid) == expected, s"event $eid")
    }
  }

  test("bucketized range join matches a naive per-row reference") {
    val e = Tables.events(spark, sf0001)
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_s"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_s").as("c_ts"), col("event_id").as("c_id"))
    val got = EventOps.rangeJoin(purchases, clicks, "user_id", "ts_s", "c_ts",
        -3600L, 0L, Seq("c_id"))
      .groupBy("event_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pu = purchases.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cl = clicks.collect().map(r => (r.getLong(0), r.getLong(1)))
    pu.foreach { case (uid, eid, ts) =>
      val expected = cl.count(c => c._1 == uid && c._2 >= ts - 3600 && c._2 < ts)
      assert(got.getOrElse(eid, 0L) == expected, s"purchase $eid")
    }
  }

  test("approx distinct is within HLL++ error of exact") {
    val rows = SparkEntry.queries("q_approx_distinct")(spark, sf0001)
      .collect()
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact < 0.1,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("approx percentile is within the sketch's rank-error of exact") {
    // percentile_approx(accuracy=1000) guarantees rank error <= n/1000;
    // gate with a generous +-0.5% rank window around each target
    val approx = SparkEntry.queries("q_approx_percentile")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val bounds = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_quantity"), lit(0.495)).as("p50_lo"),
        percentile(col("l_quantity"), lit(0.505)).as("p50_hi"),
        percentile(col("l_quantity"), lit(0.945)).as("p95_lo"),
        percentile(col("l_quantity"), lit(0.955)).as("p95_hi"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    for ((g, (p50, p95)) <- approx) {
      val (l50, h50, l95, h95) = bounds(g)
      assert(p50 >= l50 && p50 <= h50, s"$g p50 $p50 not in [$l50,$h50]")
      assert(p95 >= l95 && p95 <= h95, s"$g p95 $p95 not in [$l95,$h95]")
    }
  }

  test("salted aggregation equals direct aggregation") {
    val e = Tables.events(spark, sf0001)
    val direct = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"),
        min("value").as("min_v"), max("value").as("max_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val salted = EventOps.saltedAgg(e, Seq("event_type"), "value", 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(salted == direct)
  }

  test("sessionize splits on gaps and covers all events") {
    val e = Tables.events(spark, sf0001)
    val sessions = EventOps.sessionize(e, "user_id", "ts_s", "event_id", "value", 1800L)
    val nEvents = sessions.agg(sum("n_events")).head().getLong(0)
    assert(nEvents == e.count())
    // session bounds are consistent
    val bad = sessions.where(col("session_end") < col("session_start")).count()
    assert(bad == 0)
  }

  test("multimodal expression and batch decode paths agree on all edge inputs") {
    import spark.implicits._
    // empty payload, 1-char, 2-char, non-ASCII first chars, multi-byte
    // UTF-8, and a long doc — the batch (mapPartitions) stub must be
    // bit-identical to the expression stub on every one of them
    val edge = Seq(
      (1L, ""), (2L, "a"), (3L, "ab"), (4L, "é"), (5L, "éx"),
      (6L, "€€"), (7L, "x" * 1000), (8L, "\n\t"))
      .toDF("doc_id", "text")
    val viaExpr = graft.operators.Multimodal
      .decodeMetadata(edge, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val viaBatch = graft.operators.Multimodal
      .decodeMetadataBatch(edge, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(viaExpr == viaBatch, s"\nexpr:  $viaExpr\nbatch: $viaBatch")
  }

  test("bloom decontamination is row-identical to the exact broadcast join") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val bench = docs.where(col("doc_id") % 20 === 0)
    val exact = graft.operators.TextAnalysis
      .decontaminate(train, bench, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val bloom = graft.operators.TextAnalysis
      .decontaminateBloom(train, bench, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(exact == bloom && exact.nonEmpty, s"${exact.size} vs ${bloom.size}")
    // no false negatives even at an aggressive fpp — the verify join can
    // only ever REMOVE bloom candidates, never recover a missed doc
    val loose = graft.operators.TextAnalysis
      .decontaminateBloom(train, bench, "doc_id", "text", k = 4, fpp = 0.2)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(loose == exact)
    // sizing sanity: ~9.6 bits/item at 1%, k around 7
    val (words, k) = graft.plans.BloomShingles.plan(1000000L, 0.01)
    assert(words.toLong * 64L > 9L * 1000000L && words.toLong * 64L < 11L * 1000000L)
    assert(k >= 6 && k <= 8)
  }

  test("GRFT16 header: exact round trip; corrupt blobs decode to null") {
    import spark.implicits._
    import graft.plans.MediaHeader
    // round trip across edge payloads (empty, multi-byte UTF-8, long)
    val docs = Seq((0L, ""), (7L, "é€x"), (15L, "z" * 300), (23L, "ab"))
      .toDF("doc_id", "text")
    val decoded = graft.operators.Multimodal.decodeHeaders(
        graft.operators.Multimodal.withFormatPayload(docs, "doc_id", "text"),
        "doc_id", "payload")
      .orderBy("doc_id").collect()
    decoded.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("version") == 1)
      assert(r.getAs[Int]("width") == 32 + (id % 8).toInt * 16)
      assert(r.getAs[Int]("height") == 32 + ((id / 8) % 8).toInt * 16)
      assert(r.getAs[Int]("channels") == 1 + (id % 3).toInt)
    }
    // UTF-8 byte lengths: "" = 0, "é€x" = 2+3+1 = 6, 300, 2
    assert(decoded.map(_.getAs[Long]("payload_len")).toSeq ==
      Seq(0L, 6L, 300L, 2L))
    // corrupt inputs: bad magic, truncated header, null — all null fields
    val bad = Seq(
      Array[Byte](1, 2, 3),
      "JUNKJUNKJUNKJUNKJUNK".getBytes("UTF-8"),
      null)
      .toDF("payload")
    val badOut = bad.select(
      MediaHeader.field(col("payload"), "width").as("w"),
      MediaHeader.field(col("payload"), "n_frames").as("f"))
      .collect()
    assert(badOut.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // SQL surface parses too (extensions-registered function)
    graft.plans.GraftFunctions.register(spark)
    val viaSql = graft.operators.Multimodal
      .withFormatPayload(docs, "doc_id", "text")
      .createOrReplaceTempView("grft_docs")
    val w = spark.sql(
      "SELECT graft_media_field(payload, 'width') AS w FROM grft_docs " +
        "WHERE doc_id = 7").head().getInt(0)
    assert(w == 32 + 7 * 16)
  }

  test("ngram df cap drops boilerplate-only pairs, keeps genuine near-dups") {
    import spark.implicits._
    val boiler = "copyright terms apply all rights reserved"
    val docs = (0 until 40).map { i =>
      // every doc shares the boilerplate; only 0/1 are genuinely similar
      val body = if (i <= 1) s"the same long body text repeated here $i"
      else s"unique content number $i with its own words entirely"
      (i.toLong, s"$boiler $body")
    }.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", 3, 0.3, maxDocFreq = Some(10L))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // boilerplate shingles have df=40 > 10: dropped — so the all-pairs
    // boilerplate clique disappears and only the genuine pair remains
    assert(capped.toSet == Set((0L, 1L)), capped.toSeq.toString)
  }

  test("auto plane sizing holds bucket occupancy flat as the corpus grows") {
    import operators.Similarity.autoPlanes
    assert(autoPlanes(5000, 4) < autoPlanes(50000, 4)) // grows with corpus
    assert(autoPlanes(0, 4) == 4 * 2)                  // floor
    assert(autoPlanes(Long.MaxValue, 4) == 4 * 16)     // cap
    // the invariant that keeps bucket self-joins linear: expected
    // occupancy n / 2^r stays ≤ 2·targetOcc across corpus sizes
    for (n <- Seq(1000L, 10000L, 100000L, 1000000L)) {
      val r = autoPlanes(n, 4) / 4
      assert(n.toDouble / (1L << r) <= 64.0, s"n=$n r=$r")
    }
  }

  test("decontamination flags exactly the docs sharing a k-gram with bench") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words alpha beta gamma delta tail"), // shares a 4-gram
      (2L, "alpha beta gamma X delta epsilon zeta"),    // only 3-gram overlap
      (3L, "completely different content here now")
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.decontaminate(train, bench, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L), got.toString)
  }

  test("repetition stats: zero for all-distinct, computed exactly for repeats") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),          // all distinct
      (2L, "x x x x"),          // 1-gram dup 3/4; 2-gram dup 2/3; 3-gram dup 1/2
      (3L, "w")                 // single word: no 2/3-grams
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.repetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((0.0, 0.0, 0.0)))
    assert(got(2L) == ((0.75, 0.666667, 0.5)), got(2L).toString)
    assert(got(3L) == ((0.0, 0.0, 0.0)))
  }

  test("token-budget mixture: over-budget keeps all; alpha=1 rate is " +
      "uniform budget/total; deterministic membership") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", 100L), (2L, "a", 100L), (3L, "b", 10L), (4L, "b", 10L))
      .toDF("doc_id", "source", "n_tokens")
    // budget >= total tokens → every per-source rate clamps to 1.0
    assert(operators.Sampling.tokenBudgetMix(d, "doc_id", "source",
      "n_tokens", alpha = 1.0, budgetTokens = 1000L).count() == 4L)
    // under-budget: kept docs are a subset, and membership is a pure
    // function of (salt, doc_id) — identical across invocations
    def kept() = operators.Sampling.tokenBudgetMix(d, "doc_id", "source",
        "n_tokens", alpha = 1.0, budgetTokens = 110L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k1 = kept()
    assert(k1 == kept())
    assert(k1.subsetOf(Set(1L, 2L, 3L, 4L)))
  }

  test("dsir weights: target-like docs outscore off-target docs; gram " +
      "census exact; identical bags score identically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha beta gamma beta", "en"),
      (3L, "zork quux blarg frotz", "de"), // vocabulary disjoint from target
      (4L, "alpha beta alpha beta", "de")  // target-like text, raw-only doc
    ).toDF("doc_id", "text", "lang")
    val w = operators.TextAnalysis.dsirWeights(
        docs, docs.where(col("lang") === "en"), "doc_id", "text",
        buckets = 1024)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // unigram+bigram bag: 4 words + 3 bigrams
    assert(w.values.forall(_._1 == 7L), w.toString)
    // identical gram bags ⇒ identical exact integer weights
    assert(w(1L)._2 == w(4L)._2, w.toString)
    // the target-vocabulary doc outweighs the disjoint-vocabulary doc
    assert(w(4L)._2 > w(3L)._2, w.toString)
  }

  test("dsir xxhash64 fast path: invariants hold and the weights are " +
      "reproduced exactly by the structurally-different streaming-" +
      "scorer plan (dense-literal lookup vs broadcast join)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha beta gamma beta", "en"),
      (3L, "zork quux blarg frotz", "de"),
      (4L, "alpha beta alpha beta", "de")
    ).toDF("doc_id", "text", "lang")
    val target = docs.where(col("lang") === "en")
    val fast = operators.TextAnalysis.dsirWeights(
        docs, target, "doc_id", "text", buckets = 1024, hash = "xx")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // same structural invariants as the md5 oracle form
    assert(fast.values.forall(_._1 == 7L), fast.toString)
    assert(fast(1L)._2 == fast(4L)._2, fast.toString)
    assert(fast(4L)._2 > fast(3L)._2, fast.toString)
    // independent reproduction: the streaming scorer computes the same
    // definition through a different plan — the per-cell factor table
    // collected into a dense literal array with an in-row aggregate
    // fold, no join at all. Exact BIGINT sums make the two plans
    // byte-comparable; any wiring bug in either path breaks equality.
    val factors = operators.TextAnalysis.dsirFactors(
      docs, target, "doc_id", "text", buckets = 1024, hash = "xx")
    val viaStream = graft.streaming.CorpusFilter.dsirScoreStream(
        docs, "doc_id", "text", factors, buckets = 1024, hash = "xx")
      .select(col("doc_id"), col("weight_micro"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast.map { case (k, v) => k -> v._2 } == viaStream,
      s"fast=$fast viaStream=$viaStream")
    // and the knob must actually be wired: the xx path's string-free
    // cell array (dsirCellsXx — token hashes + long-pair bigram cells)
    // places SOME gram in a different cell than the md5 gram-string
    // chain (weights can legitimately coincide on a collision-free
    // fixture — the factor depends on the cell's counts, not its id —
    // so compare cell ids, not weights); and its size matches the gram
    // count element-for-element
    val one = Seq("alpha beta gamma").toDF("text")
    val row = one.select(
        operators.TextAnalysis.dsirCellsXx(col("text"), 1024, "dsir")
          .as("cx"),
        transform(operators.TextAnalysis.dsirGrams(col("text")),
          g => operators.TextAnalysis.dsirCell(g, 1024, "dsir", "md5"))
          .as("cm"))
      .head()
    val cx = row.getSeq[Long](0)
    val cm = row.getSeq[Long](1)
    assert(cx.size == 5 && cm.size == 5, s"$cx vs $cm") // 3 uni + 2 bi
    assert(cx != cm,
      s"xx cells identical to md5 cells — knob not wired: $cx")
    // the xx path has exactly ONE cell definition (dsirCellsXx): asking
    // for a per-gram xx cell is a contract error, rejected at plan-build
    // time — a gram-wise xx hash mixed with a dsirCellsXx factor table
    // would silently score against the wrong cells
    val e = intercept[IllegalArgumentException](
      operators.TextAnalysis.dsirCell(col("text"), 1024, "dsir", "xx"))
    assert(e.getMessage.contains("dsirCellsXx"))
  }

  test("bpe: trainer reproduces the hand-computed Sennrich merges; " +
      "encoder applies them left-to-right non-overlapping; expression " +
      "matches the reference encoder") {
    import graft.functions.Bpe
    // census: low x5, lower x2, newest x6, widest x3. Pair counts round 1:
    // (e,s)=9 (newest+widest) ties (s,t)=9 -> lexicographic (e,s) wins;
    // round 2: (es,t)=9; round 3: (l,o)=7 ties (o,w)=7 -> (l,o).
    val census = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    val merges = Bpe.train(census, numMerges = 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")),
      merges.toString)
    // encode an UNSEEN word with the learned merges
    assert(Bpe.encodeWord("lowest", merges.toArray).toSeq ==
      Seq("lo", "w", "est"))
    // left-to-right non-overlap: "aaa" under (a,a) -> [aa, a]
    assert(Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq ==
      Seq("aa", "a"))
    // early stop: a census where no pair repeats trains zero merges
    assert(Bpe.train(Seq(("ab", 1L), ("cd", 1L)), 10).isEmpty)
    // surrogate-pair codepoints stay whole
    assert(Bpe.codepoints("a𝄞b").toSeq ==
      Seq("a", "𝄞", "b"))
    // the native expression flattens per-word encodings in doc order and
    // matches the reference encoder word-for-word
    import spark.implicits._
    val docs = Seq((1L, "the lowest newest low"), (2L, " "), (3L, ""))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        graft.plans.BpeEncode.encode(lower(col("text")), merges).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val expect = "the lowest newest low".split(" ")
      .flatMap(w => Bpe.encodeWord(w, merges.toArray)).toSeq
    assert(got(1L) == expect, got(1L).toString)
    assert(got(2L).isEmpty && got(3L).isEmpty, got.toString)
    // trainer determinism: same census, same merges, any input order
    assert(Bpe.train(census.reverse, 3) == merges)
  }

  test("bpe: the word census keeps the censusMaxWords most frequent " +
      "words; the default bound keeps the whole census") {
    import spark.implicits._
    val texts = Seq("low lower low newest", "widest newest low",
      "newest widest lowest low", "lower newest")
    val docs = texts.toDF("text")
    val full = texts.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => (w, ws.size.toLong) }.toSeq
    val top3 = full.sortBy { case (w, c) => (-c, w) }.take(3).sortBy(_._1)
    val capped = withSQLConf("spark.graft.bpe.censusMaxWords" -> "3") {
      operators.TextAnalysis.bpeCensusForProfile(docs, "text")
    }
    assert(capped == top3, capped)
    assert(operators.TextAnalysis.bpeCensusForProfile(docs, "text") ==
      full.sortBy(_._1))
    assert(operators.TextAnalysis.bpeTrain(docs, "text", 5) ==
      graft.functions.Bpe.train(full, 5))
  }

  test("semantic decontam: near-eval vectors flagged with best match, " +
      "orthogonal vectors pass; similarity ties take the larger eval id") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),  // identical to eval 100 AND 101 (tie)
      (2L, Seq(0.9, 0.1, 0.0)),  // near eval 100/101
      (3L, Seq(0.0, 0.0, 1.0))   // orthogonal to every eval vector
    ).toDF("vec_id", "embedding")
    val evalSet = Seq(
      (100L, Seq(1.0, 0.0, 0.0)),
      (101L, Seq(2.0, 0.0, 0.0)), // same direction, different norm
      (102L, Seq(0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val got = operators.Similarity.semanticDecontam(
        corpus, evalSet, "vec_id", "embedding", threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L), got.toString)
    // doc 1 matches both same-direction eval vectors at cosine 1.0 —
    // the tie goes to the larger eval id (struct order)
    assert(got(1L)._1 == 2L && got(1L)._2 == 1.0 && got(1L)._3 == 101L,
      got.toString)
    // doc 2: two hits, best is the (rounded) 0.9/|v| cosine
    assert(got(2L)._1 == 2L && got(2L)._3 == 101L, got.toString)
  }

  test("lm perplexity: OOV docs score highest within their language; " +
      "n_events = tokens - 1; sub-2-token docs absent; terciles are " +
      "within-language") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog sat on the rug", "en"),
      (2L, "the cat sat on the rug and the dog sat on the mat", "en"),
      (3L, "the dog sat on the mat and the cat sat on the rug", "en"),
      // vocabulary fully disjoint from the other English docs: every
      // bigram occurs once (its own reference contribution), so its
      // per-event cross-entropy is the corpus maximum
      (4L, "zork quux blarg frotz glorp snarf wibble plugh", "en"),
      (5L, "solo", "en"), // 1 token: no bigram events, no output row
      (6L, "und der hund sass auf der matte", "de"),
      (7L, "und die katze sass auf der matte", "de")
    ).toDF("doc_id", "text", "lang")
    val out = operators.TextAnalysis.lmPerplexity(
        docs, docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(5L), out.keySet.toString)
    assert(out(1L).getLong(2) == 12L, out(1L).toString) // 13 tokens
    assert(out(4L).getLong(2) == 7L, out(4L).toString) // 8 tokens
    def ppl(id: Long) = out(id).getDouble(4)
    assert(Seq(1L, 2L, 3L).forall(id => ppl(id) < ppl(4L)),
      out.values.map(r => (r.getLong(0), r.getDouble(4))).toString)
    // …and the OOV doc lands in the within-language tail
    assert(out(4L).getString(5) == "tail", out(4L).toString)
    // German docs are ranked within their own language only: two docs
    // with distinct perplexities split head / tail
    assert(Set(out(6L).getString(5), out(7L).getString(5)) ==
      Set("head", "tail"), (out(6L), out(7L)).toString)
    // exact-integer anchor: h_micro is a BIGINT sum of micro-nat
    // factors, so identical texts (same lang) must tie exactly
    val twin = Seq(
      (10L, "alpha beta gamma alpha beta", "en"),
      (11L, "alpha beta gamma alpha beta", "en")
    ).toDF("doc_id", "text", "lang")
    val tw = operators.TextAnalysis.lmPerplexity(
        twin, twin, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(tw(10L) == tw(11L), tw.toString)
  }

  test("PII redaction: typed placeholders, per-category counts, no-op " +
      "on clean text") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail me at jane.doe+x@sub.example.org or bob@ex.co thanks"),
      (2L, "server 192.168.0.1 and 10.20.30.40 are up"),
      (3L, "ssn 123-45-6789 phone +1-555-123-4567"),
      (4L, "perfectly clean text with no pii at all"),
      (5L, "mixed a@b.io 8.8.8.8 987-65-4321 +44-201-555-0199 end")
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.redactPii(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getString(5)))).toMap
    assert(got(1L) == ((2, 0, 0, 0,
      "mail me at <EMAIL> or <EMAIL> thanks")), got(1L).toString)
    assert(got(2L) == ((0, 2, 0, 0,
      "server <IP> and <IP> are up")), got(2L).toString)
    assert(got(3L) == ((0, 0, 1, 1,
      "ssn <SSN> phone <PHONE>")), got(3L).toString)
    assert(got(4L) == ((0, 0, 0, 0,
      "perfectly clean text with no pii at all")))
    assert(got(5L) == ((1, 1, 1, 1,
      "mixed <EMAIL> <IP> <SSN> <PHONE> end")), got(5L).toString)
  }

  test("document chunking: full coverage, exact overlap, short docs " +
      "single-chunk, blank docs dropped") {
    import spark.implicits._
    val words40 = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, words40),                  // 40 words: chunks at 0/16/32
      (2L, "a b c"),                  // short: one 3-word chunk
      (3L, "   ")                     // blank: dropped
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis
      .chunkDocuments(d, "doc_id", "text", chunkWords = 24,
        overlapWords = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(!got.exists(_._1 == 3L))
    // 40 words, stride 16: nch = 1 + ceil((40-24)/16) = 2 — the second
    // window [17..40] already reaches the document end
    val one = got.filter(_._1 == 1L).sortBy(_._2)
    assert(one.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 24L), (1L, 16L, 24L)))
    // exact overlap: chunk 0's last 8 words == chunk 1's first 8
    val texts = one.map(_._5.split(" ").toSeq)
    assert(texts(0).takeRight(8) == texts(1).take(8))
    // full coverage in order
    assert((texts(0) ++ texts(1).drop(8)) == (1 to 40).map(i => s"w$i"))
    assert(got.filter(_._1 == 2L).toSeq ==
      Seq((2L, 0L, 0L, 3L, "a b c")))
  }

  test("quality filter drops the bottom quantile per language") {
    val out = operators.TextAnalysis.qualityFilter(docs, "doc_id", "text", "lang", 0.2)
    val total = docs.count()
    val kept = out.count()
    assert(kept < total && kept > total / 2, s"kept $kept of $total")
    assert(out.where(col("q_rank") < 0.2).count() == 0)
  }

  test("stratified sample is deterministic and tracks the target rates") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.0)
    val s1 = operators.Sampling.stratifiedSample(docs, "doc_id", "source", rates, 0.5)
    val s2 = operators.Sampling.stratifiedSample(docs, "doc_id", "source", rates, 0.5)
    assert(s1.select("doc_id").collect().toSeq == s2.select("doc_id").collect().toSeq)
    val bySrc = s1.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val origSrc0 = docs.where(col("source") === "src0").count()
    assert(bySrc.getOrElse("src0", 0L) == origSrc0)   // rate 1.0 keeps all
    assert(!bySrc.contains("src1"))                   // rate 0.0 drops all
    val others = docs.where(!col("source").isin("src0", "src1")).count()
    val keptOthers = s1.where(!col("source").isin("src0", "src1")).count()
    assert(math.abs(keptOthers.toDouble / others - 0.5) < 0.15,
      s"$keptOthers of $others at rate 0.5")
  }

  test("temperature mix flattens skewed sources toward the target") {
    import graft.operators.Sampling
    val out = Sampling.temperatureMix(docs, "doc_id", "lang",
      alpha = 0.5, targetRows = 300L)
    // deterministic across invocations
    assert(out.select("doc_id").collect().toSeq ==
      Sampling.temperatureMix(docs, "doc_id", "lang", 0.5, 300L)
        .select("doc_id").collect().toSeq)
    // flattening: the kept share of the dominant language is LOWER than
    // the kept share of the smallest (alpha < 1 up-weights small sources)
    val orig = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val big = orig.maxBy(_._2)._1
    val small = orig.minBy(_._2)._1
    assert(kept(big).toDouble / orig(big) <
      kept(small).toDouble / orig(small),
      s"$kept vs $orig")
    // alpha = 1 keeps natural proportions: every source's rate equals
    // target/total, so kept shares are (stochastically) equal — check
    // the rates via expectation bounds
    val nat = Sampling.temperatureMix(docs, "doc_id", "lang", 1.0, 300L)
    val natKept = nat.count().toDouble
    assert(math.abs(natKept - 300.0) < 60, s"natural-mix kept $natKept")
    // alpha = 0: equal per-source targets regardless of size
    val flat = Sampling.temperatureMix(docs, "doc_id", "lang", 0.0, 300L)
    val flatKept = flat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // each source targets 60 rows (300/5 languages); the smallest
    // source may cap at its full size
    flatKept.foreach { case (l, k) =>
      assert(k <= orig(l) && math.abs(
        k - math.min(orig(l), 60L)) <= 25, s"$l kept $k of ${orig(l)}")
    }
  }

  test("split assignment partitions every row into one named split") {
    val out = operators.Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(out.count() == docs.count())
    val by = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by.keySet == Set("train", "val", "test"), by.toString)
    assert(by("train") > by("val") && by("train") > by("test"))
  }

  test("packSequences equals the naive global cumsum, any bucket width") {
    import graft.functions.TextFunctions.wsTokens
    val n = size(wsTokens(col("text")))
    // naive single-window reference (what the distributed form must equal)
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val naive = docs
      .select(col("doc_id"), n.cast("long").as("n_tokens"))
      .withColumn("offset", coalesce(sum("n_tokens").over(w), lit(0L)))
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "offset").collect().toSeq
    for (bw <- Seq(7L, 64L, 1000000L)) {
      val got = operators.Packing.packSequences(docs, "doc_id", n, 512L, bw)
        .orderBy("doc_id")
        .select("doc_id", "n_tokens", "offset").collect().toSeq
      assert(got == naive, s"bucketWidth=$bw")
    }
  }

  test("packSequences offsets are contiguous and sequence fields consistent") {
    import graft.functions.TextFunctions.wsTokens
    val rows = operators.Packing.packSequences(
        docs, "doc_id", size(wsTokens(col("text"))), 512L, 64L)
      .orderBy("doc_id").collect()
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("offset") ==
          a.getAs[Long]("offset") + a.getAs[Long]("n_tokens"))
      case _ =>
    }
    rows.foreach { r =>
      val off = r.getAs[Long]("offset"); val nt = r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("seq_id") == off / 512)
      assert(r.getAs[Long]("seq_off") == off % 512)
      assert(r.getAs[Long]("n_seqs") == (off + nt - 1) / 512 - off / 512 + 1)
      assert(r.getAs[Long]("seq_off") < 512)
    }
  }

  test("dedupPassages strips cross-doc boilerplate, keeps order, keeps all docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c x1 y1 z1 p q r"),  // boilerplate head + unique rest
      (2L, "x2 y2 z2 a b c"),        // boilerplate at a different position
      (3L, "a b c g3 h3 i3"),
      (4L, "a b c")                  // nothing but boilerplate
    ).toDF("doc_id", "text")
    val out = Dedup.dedupPassages(d, "doc_id", "text", chunkWords = 3, maxDf = 3)
      .orderBy("doc_id").collect()
    assert(out.length == 4) // fully-dropped docs still present
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("clean_text"), r.getAs[Long]("n_passages"),
        r.getAs[Long]("n_dropped"))).toMap
    assert(byId(1L) == (("x1 y1 z1 p q r", 3L, 1L)))
    assert(byId(2L) == (("x2 y2 z2", 2L, 1L)))
    assert(byId(3L) == (("g3 h3 i3", 2L, 1L)))
    assert(byId(4L) == (("", 1L, 1L)))
  }

  test("dedupPassages with a high df cap is the identity reassembly") {
    val out = Dedup.dedupPassages(docs, "doc_id", "text", 3, maxDf = 1000000)
    assert(out.where(col("n_dropped") =!= 0L).count() == 0)
    // reassembling every kept passage reproduces the original text
    val joined = out.join(docs, "doc_id")
      .where(col("clean_text") =!= trim(regexp_replace(col("text"), "\\s+", " ")))
    assert(joined.count() == 0)
  }

  test("corpusStats cells partition the corpus exactly") {
    val out = TextAnalysisFixture.corpusStats(docs)
    val total = docs.count()
    assert(out.agg(sum("n_docs")).collect()(0).getLong(0) == total)
    val shareSum = out.agg(sum("doc_share")).collect()(0).getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
  }

  test("topk over sum by returns the true per-bucket top groups") {
    val t = Tsdb.attach(spark, Tables.events(spark, sf0001).select(
      col("event_type").as("metric"),
      map(lit("user_id"), col("user_id").cast("string"),
        lit("cohort"), pmod(col("user_id"), lit(10)).cast("string")).as("labels"),
      col("ts_s").as("ts"), col("value")))
    val (t0, t1) = (1704412800L, 1705017599L)
    val full = graft.promql.PromQL.query(t, "sum by (cohort) (click[1h])",
        t0, t1)
      .select("bucket_start", "cohort", "sum_v").collect()
      .groupBy(_.getLong(0))
    val top = graft.promql.PromQL.query(t,
        "topk(3, sum by (cohort) (click[1h]))", t0, t1)
      .select("bucket_start", "cohort", "sum_v", "rk").collect()
      .groupBy(_.getLong(0))
    top.foreach { case (bucket, rows) =>
      assert(rows.length <= 3)
      val chosen = rows.map(_.getDouble(2)).toSeq.sorted(Ordering[Double].reverse)
      val best = full(bucket).map(_.getDouble(2)).toSeq
        .sorted(Ordering[Double].reverse).take(rows.length)
      assert(chosen == best, s"bucket $bucket: $chosen vs $best")
    }
    assert(top.keySet == full.keySet) // every bucket represented
  }

  test("capped simhash pairs: subset of exact, deterministic, loose cap " +
      "is the identity") {
    val exact = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3,
        maxBucket = 16)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact), "cap emitted a non-exact pair")
    val again = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3,
        maxBucket = 16)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == again)
    val loose = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3,
        maxBucket = 1000000)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == exact)
  }

  test("simhash star clusters refine the exact simhash pair components") {
    val exactComp = Dedup.connectedComponentsStar(
        Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.simHashClusters(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // refinement: every star edge passed the exact Hamming test, so a
    // star cluster never spans two exact components
    assert(star.keySet.subsetOf(exactComp.keySet))
    star.groupBy(_._2).values.foreach { members =>
      val exactLabels = members.keys.map(exactComp).toSet
      assert(exactLabels.size == 1,
        s"simhash star cluster spans exact components: $members")
    }
  }

  test("occupancy caps are inactive at the compare SFs: capped queries " +
      "row-equal their uncapped oracled twins on the verify corpus") {
    // the driver's DuckDB compare runs the capped twins against the
    // UNCAPPED oracles (OracleSql: 'byte-identical while no cell exceeds
    // the cap') - this is the sbt assertion that pins that invariant on
    // the actual corpora the compare uses, at BOTH gate SFs
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      def rows(name: String) =
        SparkEntry.queries(name)(spark, dir).collect().toSeq
      assert(rows("dedup_minhash_capped") == rows("dedup_minhash_lsh"),
        s"minhash cap engaged at $dir - the shared oracle no longer holds")
      assert(rows("dedup_simhash_capped") == rows("dedup_simhash"),
        s"simhash cap engaged at $dir - the shared oracle no longer holds")
    }
  }
}

/** Shared fixture call so the spec and the registered query stay in sync. */
private object TextAnalysisFixture {
  def corpusStats(docs: org.apache.spark.sql.DataFrame) =
    graft.operators.TextAnalysis.corpusStats(
      docs, "doc_id", "text", "source", bucketWords = 50, maxBucket = 7)

}
