package graft.tools

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
    val names = Local.queryNames(args.drop(3).toSeq)
    val spark = Local.session(Local.cpus, Local.cpus)
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
