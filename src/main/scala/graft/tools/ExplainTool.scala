package graft.tools
import graft._
/** Dev tool: for each named SparkEntry query at an SF dir, print the
  * formatted physical plan, time one `collect()`, then print the final
  * adaptive plan (which exchanges AQE actually materialized vs reused —
  * the static plan repeats shared subtrees).
  *
  * Usage: runMain graft.tools.ExplainTool <sfDir> <query names...>
  * A plan file is `ExplainTool <sfDir> <q> > plans/<dir>/<q>_<tag>.txt`.
  */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    try args.drop(1).foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.collect().length
      println(f"[time] $name ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
      println(s"===== $name (final adaptive plan) =====")
      println(df.queryExecution.executedPlan.toString)
    } finally spark.stop()
  }
}
