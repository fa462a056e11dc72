package graft.tools

import graft.SparkEntry
import graft.ops.SparkDialect

/** Dev utility: stage-by-stage timing of one registered staged query,
  * materializing every stage exactly as SparkEntry.sqlStaged does so
  * the body timing profiles the real query.
  *
  * Usage: runMain graft.tools.Prof [sfDir] [queryName]
  * where queryName is a `Staged` row of [[SparkEntry.registry]]
  * (default q_dedup_ngram_jaccard); any other name exits with status 2.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val name = if (args.length > 1) args(1) else "q_dedup_ngram_jaccard"
    val (views, op) = SparkEntry.registry.get(name) match {
      case Some(q: SparkEntry.Staged) => (q.views, q.op)
      case other =>
        System.err.println(
          if (other.isEmpty) s"Prof: no registered query named $name"
          else s"Prof: $name is not a staged query; Prof profiles only the stages of a Staged row")
        sys.exit(2)
    }
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    graft.functions.GraftFunctions.registerAll(spark)
    views.foreach(v => graft.Tables(spark, sfDir, v).createOrReplaceTempView(v))

    def timed(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs  rows=$n")
    }

    // untimed warmup so JVM/codegen startup doesn't land on stage 1
    views.foreach(v => spark.sql(s"SELECT COUNT(*) FROM $v").count())
    val explain = sys.env.contains("PROF_EXPLAIN")
    op.stages.foreach { case (stage, build) =>
      val path = s"/tmp/prof_stage/$stage"
      val df = spark.sql(build(SparkDialect))
      if (explain) { println(s"==== stage $stage plan ===="); df.explain("formatted") }
      timed(s"stage $stage count")(df.count())
      timed(s"stage $stage count2")(spark.sql(build(SparkDialect)).count())
      timed(s"stage $stage write") {
        df.write.mode("overwrite").parquet(path); 0L
      }
      spark.read.parquet(path).createOrReplaceTempView(stage)
    }
    val body = spark.sql(op.body(SparkDialect))
    timed("full body")(body.count())
    timed("full body again")(spark.sql(op.body(SparkDialect)).count())
    spark.stop()
  }
}
