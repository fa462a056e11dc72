package perfbench

import scala.jdk.CollectionConverters._

/** JVM side of one benchmark run:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --run-dir R
  *  --data-dir D --cpus C [workload sizes...]`.
  * Writes `R/result.json` (attempted, failed, failures, metrics) and, for a
  * traced run, `R/spans.jsonl`. `perfbench/run.py` builds the inputs,
  * launches this and adds the oracle compare. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val h = new Harness(args)
    try args("workload") match {
      case "listing_etl" => ListingEtl.run(h)
      case "query_suite" => QuerySuite.run(h)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        h.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally if (h.spark != null) h.spark.stop()

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("attempted", h.attempted)
    result.put("failed", h.failures.size.toLong)
    result.put("failures", h.failures.asJava)
    result.put("metrics", h.metrics.map { case (k, v) => k -> Double.box(v) }.asJava)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(s"${h.runDir}/result.json"), result)
    if (h.traceRun)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"${h.runDir}/spans.jsonl"),
        h.tracer.jsonLines.asJava)
    // Derby and Spark leave non-daemon threads behind; the result is written
    System.exit(0)
  }
}
