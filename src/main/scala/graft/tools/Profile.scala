package graft.tools

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.obs.{Profiled, Profile => Spans}

/** Runs registered queries under [[graft.obs.Profile]] and prints one
  * JSON line per (query, rep): the rows it collected, its wall time, its
  * job/task/CPU/wait/input/shuffle/spill counters and the rows out of
  * each physical operator. A failing query prints its stack trace to
  * stderr and the run goes on with the next name.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [reps] name1 [name2 ...]
  * (reps defaults to 1; a name ending in `*` stands for every registered
  * query with that prefix, in name order; `SPARK_GRAFT_CPUS` sets the
  * cores and shuffle partitions, 32 by default).
  */
object Profile {
  /** One rep of one query: its profiled row count, or why it failed. */
  final case class Report(name: String, rep: Int, result: Try[Profiled[Long]]) {
    def json: String = result match {
      case Success(p) =>
        s"""{"query":${Spans.quote(name)},"rep":$rep,"rows":${p.value},"span":${p.span.json}}"""
      case Failure(e) =>
        s"""{"query":${Spans.quote(name)},"rep":$rep,"error":${Spans.quote(e.toString)}}"""
    }
  }

  /** Prewarms `names` (after `*` expansion), then runs each `reps` times,
    * printing each report as it comes; a name's first failure ends its
    * reps. */
  def profile(spark: SparkSession, dir: String, reps: Int,
      names: Seq[String]): Seq[Report] = {
    val expanded = Local.queryNames(names)
    SparkEntry.prewarm(spark, dir, Some(expanded.toSet))
    expanded.flatMap { name =>
      val runs = (1 to reps).iterator.map { rep =>
        val r = Report(name, rep, Try {
          val q = SparkEntry.queries.getOrElse(name,
            throw new NoSuchElementException(s"unknown query: $name"))
          Spans.run(spark, name)(q(spark, dir).collect().length.toLong)
        })
        println(r.json)
        r.result.failed.foreach(_.printStackTrace())
        r
      }
      val (ok, failed) = runs.span(_.result.isSuccess)
      ok.toList ++ failed.take(1)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> [reps] name1 [name2 ...]")
    val reps = args(1).toIntOption
    val spark = Local.session(Local.cpus, Local.cpus)
    profile(spark, args(0), reps.getOrElse(1), args.drop(if (reps.isEmpty) 1 else 2))
    spark.stop()
  }
}
