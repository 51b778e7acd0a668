package graft

/** Dev probe: time named catalog queries individually (n runs each).
  * Usage: runMain graft.Probe <sfDir> <n> q74_dedup_clusters [more...]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args.drop(2)
    val spark = GraftSession.local("graft-probe", 32)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name runs=${times.map(t => f"$t%.2f").mkString(",")} median=${times.sorted.apply(n / 2)}%.2f")
    }
    spark.stop()
  }
}
