package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: print the formatted physical plan of named SparkEntry queries
  * — the plan-shape audit loop. Usage:
  * `tools/run.sh graft.tools.Explain <sfDir> [query ...]` (no names =
  * every query); one session for the whole list, `===== <query> =====`
  * separators between plans. Grep targets: unexpected
  * `BroadcastExchange` on corpus-sized frames, `Window` with an empty
  * partition spec outside a bounded frame, missing `PushedFilters` at
  * scans. Env: SPARK_GRAFT_CPUS (default 4). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.builder("graft-explain", s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"===== $name =====")
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      } catch {
        case e: Throwable => println(s"EXPLAIN FAILED: $e")
      }
    }
    spark.stop()
  }
}
