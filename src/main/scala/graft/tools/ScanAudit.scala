package graft.tools
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val sfDir = "/root/testdata/sf0.001"
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val scans = "Scan parquet|FileScan parquet".r.findAllIn(plan).length
        val gens = "Generate".r.findAllIn(plan).length
        if (scans > 1 || gens > 1) println(s"[audit] $name scans=$scans generates=$gens")
      } catch { case e: Throwable => println(s"[audit] $name ERROR ${e.getClass.getSimpleName}") }
    }
    spark.stop()
  }
}
