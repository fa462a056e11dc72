package graft

import org.apache.spark.sql.SparkSession

/** One local-session recipe for every driver-contract main (Verify,
  * Bench) and dev tool (Prof, TimeQ, PlanDump, ScanAudit), so they all
  * execute under the SAME session config as the correctness-verified
  * runs — previously each main carried its own copy-pasted builder and
  * Bench/TimeQ had silently dropped the UTC session timezone, meaning
  * benchmarks could measure a different workload (TZ-sensitive
  * timestamp expressions) than the one the oracle gate verified.
  *
  * Also pins `spark.sql.legacy.parquet.nanosAsLong` at build time: the
  * events table's TIMESTAMP(NANOS) column needs it, and declaring it
  * here makes session behavior independent of whether `Tables.events`
  * happened to be called first (it remains defensively set there for
  * externally-built sessions).
  */
object GraftSession {
  /** The core count every main runs with: `SPARK_GRAFT_CPUS`, or this
    * machine's available processors when it is unset. */
  val cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def local(cpus: String, shuffle: String = null): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", if (shuffle == null) cpus else shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
