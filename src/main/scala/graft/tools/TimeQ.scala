package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility: time named SparkEntry queries (2 runs each, after an
  * untimed warmup query) without running the whole Bench suite. Every
  * timed action computes the full result through a `noop` sink (a
  * `count()` would let Catalyst prune aggregates and windows); `rows=`
  * comes from a separate, untimed count.
  *
  * Usage: runMain graft.tools.TimeQ [--cold] [--prewarm] <sfDir> <query> [<query> ...]
  *
  *  --cold     delete the per-tmpdir stage cache first (the bench's
  *             deterministic starting state)
  *  --prewarm  build the shared staged artifacts untimed before the
  *             timed runs (exactly what Bench does), so timings
  *             reproduce bench conditions instead of billing a cold
  *             shared stage to the first query
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val unknown = flags.filterNot(Set("--cold", "--prewarm"))
    if (unknown.nonEmpty || rest.isEmpty) {
      // a typo'd --prewarm silently yielding cold timings would read
      // as a perf regression — reject loudly instead
      System.err.println(
        (if (unknown.nonEmpty) s"unknown flag(s): ${unknown.mkString(" ")}\n" else "") +
          "usage: TimeQ [--cold] [--prewarm] <sfDir> <query> [<query> ...]")
      sys.exit(2)
    }
    val cold = flags.contains("--cold")
    val prewarm = flags.contains("--prewarm")
    val sfDir = rest(0)
    val names = rest.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = graft.GraftSession.local(cpus, shuffle)
    if (cold) graft.SparkEntry.cleanupStages()
    try graft.SparkEntry.queries("q_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    if (prewarm) {
      val t0 = System.nanoTime()
      graft.SparkEntry.prewarmStages(spark, sfDir)
      println(f"[timeq] prewarm ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    }
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to 2).foreach { run =>
        graft.ops.Cluster.resetRounds()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val rounds =
          if (graft.ops.Cluster.lastRounds >= 0) s" rounds=${graft.ops.Cluster.lastRounds}"
          else ""
        val rows = fn(spark, sfDir).count()
        println(f"[timeq] $n%-28s run$run $secs%7.2fs rows=$rows$rounds")
      }
    }
    spark.stop()
  }
}
