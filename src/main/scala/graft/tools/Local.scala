package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** What the dev mains share: one local session and the query-name
  * arguments. */
object Local {
  /** `SPARK_GRAFT_CPUS`, or 32: the cores of the mains that honour it. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** A `local[cores]` session with `partitions` shuffle partitions, the
    * engine's confs (UTC, nanosecond parquet timestamps as longs,
    * last-wins map keys), no UI, and only errors logged. */
  def session(cores: String, partitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Registered query names: a name ending in `*` stands for every
    * registered query with that prefix, in name order. */
  def queryNames(args: Seq[String]): Seq[String] = args.flatMap { a =>
    if (a.endsWith("*"))
      SparkEntry.queries.keys.filter(_.startsWith(a.dropRight(1))).toSeq.sorted
    else Seq(a)
  }
}
