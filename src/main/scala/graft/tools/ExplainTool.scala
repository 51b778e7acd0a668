package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev tool: print the formatted physical plan of named catalog queries.
  * Usage: runMain graft.tools.ExplainTool <sfDir> q149_lateral_topk [more...]
  */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-explain", 4)
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, args(0)).explain("formatted")
    }
    spark.stop()
  }
}
