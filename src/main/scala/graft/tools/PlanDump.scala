package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Dev utility: dump formatted physical plans of selected queries to a
  * file (evidence for PLANS.md), or — when `out` ends in "/" — to one
  * file per query under that directory (`<out><query><suffix>.txt`,
  * the plans/r14 evidence layout).
  *
  * Usage: runMain graft.tools.PlanDump <out> <q1> <q2> ...
  *   env SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.01)
  *   env SPARK_GRAFT_PLAN_SUFFIX  per-file suffix, e.g. "_before"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val names = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    def plan(n: String): String = {
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    }
    if (out.endsWith("/")) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      names.foreach { n =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out$n$suffix.txt"), plan(n) + "\n")
        ()
      }
    } else {
      val sb = new StringBuilder
      names.foreach { n =>
        sb.append(s"===== $n =====\n").append(plan(n)).append("\n")
        ()
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
      ()
    }
    spark.stop()
  }
}
