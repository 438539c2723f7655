package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are deterministic per seed, and their closed forms hold
  * on hand-checked cases. The end-to-end closed forms (engine output equal
  * to the expected values) are checked by every benchmark run; the tiny
  * scale of `test_perfbench.py` runs them on a small grid and corpus. */
class GenSpec extends AnyFunSuite {
  private val t0 = 1699920000L

  test("each generator is deterministic for a seed and varies across seeds") {
    def live(seed: Long) = Grids.live(seed, 2, 16, 8, t0, 60)
    def corpus(seed: Long) = Corpus.shard(seed, 0, 60, 80, 1000000L)
    assert(live(7) == live(7) && corpus(7) == corpus(7))
    assert(live(7) != live(8) && corpus(7) != corpus(8))
    assert(Gen.shuffle(3, 1, 50) == Gen.shuffle(3, 1, 50))
    assert(Gen.shuffle(3, 1, 50).sorted == (0 until 50))
  }

  test("grid series are counters with integer slopes and unique label sets") {
    val g = Grids.live(5, 2, 16, 8, t0, 60)
    assert(g.series.map(s => (s.metric, s.labels)).distinct.size == g.series.size)
    assert(g.series.forall(s => s.slope >= 1 && s.slope <= 9))
    val s = g.series.head
    assert(g.value(s, t0 + 600) - g.value(s, t0) == 600.0 * s.slope)
  }

  test("rate buckets: full buckets cover w, the first bucket of a window starts at its first sample") {
    val g = Grids.live(1, 1, 1, 1, t0, 30)
    // aligned window: the first bucket has no sample before it in the window
    val aligned = g.rateBuckets(t0 + 3600, t0 + 3600 + 899, 300, t0 + 7200)
    assert(aligned == Seq(t0 + 3600 -> 270L, t0 + 3900 -> 300L, t0 + 4200 -> 300L))
    // a window starting mid-bucket: that bucket covers from the window start
    val mid = g.rateBuckets(t0 + 3750, t0 + 4199, 300, t0 + 7200)
    assert(mid == Seq(t0 + 3600 -> 120L, t0 + 3900 -> 300L))
    // the data end cuts the last bucket
    val end = g.rateBuckets(t0 + 3600, t0 + 4199, 300, t0 + 4000)
    assert(end == Seq(t0 + 3600 -> 270L, t0 + 3900 -> 120L))
  }

  test("corpus: planted groups give the survivors and the kept set") {
    val docs = Corpus.shard(11, 0, 200, 80, 1000000L)
    assert(docs.size == 200 && docs.map(_.id).distinct.size == 200)
    val groups = docs.groupBy(_.group)
    assert(groups.values.exists(g => g.size > 1 && g.map(_.text).distinct.size == 1), "exact group")
    assert(groups.values.exists(g => g.size > 1 && g.map(_.text).distinct.size == g.size), "near group")
    assert(docs.exists(_.junk) && docs.forall(_.text.forall(c => c >= ' ' && c < 128)))
    val surv = Corpus.survivors(docs)
    assert(surv.size == groups.size)
    assert(groups.values.forall(g => surv(g.map(_.id).min)))
    assert(Corpus.kept(docs) == surv.filter(id => !docs.find(_.id == id).get.junk))
  }

  test("percentiles are nearest-rank; the median interpolates") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.pct(xs, 0.9) == 9.0 && Stats.pct(xs, 1.0) == 10.0)
    assert(Stats.median(xs) == 5.5 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }
}
