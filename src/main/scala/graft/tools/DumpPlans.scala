package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev-only: dump `.explain("formatted")` for a set of registered queries
  * into per-query text files, for the optimization-round plan evidence
  * (`plans/r15/<query>_<suffix>.txt`).
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> <outDir> <suffix> name1 name2 ...
  * A name ending in `*` stands for every registered query with that
  * prefix, in name order (`tsdb_*` dumps all the TSDB queries).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: DumpPlans <sfDir> <outDir> <suffix> name1 [name2 ...]")
    val Array(dir, outDir, suffix) = args.take(3)
    val names = args.drop(3).toSeq.flatMap { a =>
      if (a.endsWith("*"))
        SparkEntry.queries.keys.filter(_.startsWith(a.dropRight(1))).toSeq.sorted
      else Seq(a)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plans] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, dir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
            System.err.println(s"[plans] wrote $name ($suffix)")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plans] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
