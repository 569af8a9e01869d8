package graft

import scala.util.control.NonFatal

/** Plan-inspection aid: prints the formatted physical plan of each named
  * query (or all, with no args) against a scale-factor dir — the
  * "explain, then iterate until it's the plan you'd want" loop.
  * Usage: runMain graft.Explain <sfDir> <query-name-prefix>...
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val prefixes = args.drop(1)
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val selected =
      if (prefixes.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      catch { case NonFatal(e) => println(s"[explain] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
