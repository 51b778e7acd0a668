package graft

/** Dev tool: dump `.explain("formatted")` for named catalog queries.
  * Usage: runMain graft.Plans <sfDir> <outDir> <suffix> q74_dedup_clusters [more...]
  * Writes <outDir>/<name>_<suffix>.txt per query. Same session shape as Bench.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args.drop(3)
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.local("graft-plans", 32)
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plans] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
