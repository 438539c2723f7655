package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded inputs whose outputs have closed forms. Everything derives from
  * `(seed, index)` through [[Gen.mix]], so one seed gives one input set. */
object Gen {
  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def rnd(seed: Long, salt: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + salt) + i)

  /** Uniform in [0, n). */
  def below(seed: Long, salt: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(rnd(seed, salt, i), n.toLong).toInt

  /** A seeded permutation of 0 until n (Fisher-Yates). */
  def shuffle(seed: Long, salt: Long, n: Int): IndexedSeq[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = below(seed, salt, i, i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}

/** One counter series: `value(ts) = base + slope * (ts - t0)`. */
final case class Series(
    idx: Int, metric: String, labels: Map[String, String], slope: Long, base: Long)

/** A grid of counter series scraped every `step` seconds from `t0`. Each
  * counter has a constant slope, so the rate over any window, its sums,
  * top-k, quantiles and ratios have exact expected values. */
final case class Grid(series: IndexedSeq[Series], t0: Long, step: Long) {
  def value(s: Series, ts: Long): Double = (s.base + s.slope * (ts - t0)).toDouble

  def bySid(labels: collection.Map[String, String]): Series =
    index((labels("__name__"), labels.toMap - "__name__"))

  private lazy val index: Map[(String, Map[String, String]), Series] =
    series.map(s => (s.metric, s.labels) -> s).toMap

  /** The series table, one row per series, cached for the batches. */
  def frame(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("metric", StringType),
      StructField("labels", MapType(StringType, StringType)),
      StructField("slope", LongType),
      StructField("base", LongType)))
    val rows = series.map(s => Row(s.metric, s.labels, s.slope, s.base))
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      spark.sparkContext.defaultParallelism), schema).cache()
  }

  /** Scrapes `k0 until k1` (scrape k at `t0 + k * step`) of every series,
    * in the `(metric, labels, ts, value)` shape `Tsdb.insertRows` takes. */
  def scrapes(table: DataFrame, k0: Long, k1: Long): DataFrame = {
    val ks = table.sparkSession.range(k0, k1).toDF("k")
    table.crossJoin(ks).select(
      col("metric"), col("labels"),
      (lit(t0) + col("k") * step).as("ts"),
      (col("base") + col("slope") * col("k") * step).cast(DoubleType).as("value"))
  }

  /** `t0 + k * step` for every scrape in `[lo, hi]` that also lies in
    * `[t0, end)`. */
  def scrapeTimes(lo: Long, hi: Long, end: Long): Seq[Long] = {
    val first = t0 + math.max(0L, Math.floorDiv(lo - t0 + step - 1, step)) * step
    (first to math.min(hi, end - 1) by step).filter(_ >= t0)
  }

  /** The engine's rate on its tumbling `w`-second grid over `[s, e]`:
    * per bucket, the increase from the sample before the bucket (when it
    * lies inside the query window) or the bucket's first sample, to its
    * last sample, divided by `w`. Returns `bucket_start -> seconds of
    * increase covered`; a series' rate is `slope * covered / w`. A bucket
    * with one sample and nothing before it has no increase and no row. */
  def rateBuckets(s: Long, e: Long, w: Long, end: Long): Seq[(Long, Long)] = {
    val b0 = s - Math.floorMod(s, w)
    (b0 to e by w).flatMap { b =>
      val ts = scrapeTimes(math.max(b, s), math.min(b + w - 1, e), end)
      if (ts.isEmpty) None
      else {
        val ref = if (ts.head - step >= s && ts.head - step >= t0) ts.head - step else ts.head
        if (ts.last == ref) None else Some(b -> (ts.last - ref))
      }
    }
  }
}

object Grids {
  /** The live grid: `metrics x hosts` counters, each with a high-entropy
    * `id` label (a random 64-bit value in hex), as in the paper's ingest
    * benchmark, plus a low-cardinality `zone` to group by. */
  def live(seed: Long, metrics: Int, hosts: Int, zones: Int, t0: Long,
      step: Long): Grid = {
    val ss = for { m <- 0 until metrics; h <- 0 until hosts } yield {
      val i = m * hosts + h
      Series(i, s"lm$m",
        Map("host" -> s"h$h", "zone" -> s"z${h % zones}",
          "id" -> f"${Gen.rnd(seed, 21, i)}%016x"),
        1 + Gen.below(seed, 22, i, 9), Gen.below(seed, 23, i, 1000))
    }
    Grid(ss.toIndexedSeq, t0, step)
  }
}

/** One corpus document with its planted group: exact copies share a
  * group, near copies (one word swapped per copy) share a group, and
  * `junk` documents fail the quality filter. */
final case class Doc(id: Long, text: String, group: Long, junk: Boolean)

object Corpus {
  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "a", "of", "is", "and", "to", "in")
  private val Symbols = "#$%&*@!?+=<>~^"

  /** One shard of `n` documents with ids starting at `idBase`. About a
    * tenth are junk, a fifth sit in exact-copy groups and a fifth in
    * near-copy groups; the rest are distinct. Ids are shuffled so the
    * lowest id of a group is not always its original. */
  def shard(seed: Long, shardNo: Int, n: Int, words: Int, idBase: Long): Seq[Doc] = {
    val salt = 1000L * shardNo
    val vocab = IndexedSeq.tabulate(4000) { v =>
      val len = 3 + Gen.below(seed, 31, v, 6)
      (0 until len).map(j => ('a' + Gen.below(seed, 32, v * 16L + j, 26)).toChar).mkString
    }
    var r = 0L
    def next(k: Int): Int = { r += 1; Gen.below(seed, 33 + salt, r, k) }
    def text(): IndexedSeq[String] = IndexedSeq.tabulate(words) { j =>
      if (j % 4 == 1) Stopwords(next(Stopwords.size)) else vocab(next(vocab.size))
    }
    def junk(): String = Seq.fill(words / 4) {
      Seq.fill(3 + next(4))(Symbols(next(Symbols.length))).mkString
    }.mkString(" ")

    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Boolean)]
    var g = 0L
    while (out.size < n) {
      g += 1
      next(20) match {
        case x if x < 2 => out += ((junk(), g, true))
        case x if x < 6 => // exact copies
          val t = text().mkString(" ")
          (0 until 2 + next(3)).foreach(_ => out += ((t, g, false)))
        case x if x < 10 => // near copies: each swaps one word of the original
          val t = text()
          out += ((t.mkString(" "), g, false))
          (0 until 1 + next(3)).foreach { c =>
            val pos = 8 + 20 * c + next(10)
            val w = vocab(next(vocab.size))
            val swapped = if (w == t(pos)) w + "x" else w
            out += ((t.updated(pos, swapped).mkString(" "), g, false))
          }
        case _ => out += ((text().mkString(" "), g, false))
      }
    }
    val docs = out.take(n).toIndexedSeq
    val ids = Gen.shuffle(seed, 34 + salt, docs.size)
    docs.indices.map { i =>
      val (t, grp, j) = docs(i)
      Doc(idBase + ids(i), t, idBase + grp, j)
    }
  }

  /** Ids that survive `dedup`: the lowest id of each planted group. */
  def survivors(docs: Seq[Doc]): Set[Long] =
    docs.groupBy(_.group).values.map(_.map(_.id).min).toSet

  /** Ids that survive `annotate`: the survivors that are not junk. */
  def kept(docs: Seq[Doc]): Set[Long] = {
    val s = survivors(docs)
    docs.filter(d => s(d.id) && !d.junk).map(_.id).toSet
  }

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text)), spark.sparkContext.defaultParallelism), schema)
  }
}
