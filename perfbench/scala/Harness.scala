package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: an ETL day, a query-suite pass or an ingest drain.
  * `counters` and `spanRoot` are set only for traced operations; `items` is
  * the work it completed (listings, queries, documents). */
final case class Op(kind: String, wall: Double, traced: Boolean, items: Long,
                    counters: Counters, spanRoot: Int)

/** State shared by the workloads of one run: the session, the closed loop's
  * clock, the operation log, failures, the tracer and (traced only) the
  * listener probe. */
final class Harness(val args: Map[String, String]) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traceRun: Boolean = args("trace") == "1"
  val runDir: String = args("run-dir")
  val dataDir: String = args("data-dir")
  val cpus: String = args("cpus")
  val tracer = new Tracer(traceRun, s"${args("workload")}-seed$seed")
  val ops = mutable.ArrayBuffer.empty[Op]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var heapPeak = 0L
  var spark: SparkSession = _
  var probe: Option[Probe] = None
  private var measureStart = 0L

  def int(k: String): Int = args(k).toInt

  /** Sets up three times (a fresh session each time, then `body`) and
    * records the median as `setup_s`; the last repetition's state is kept.
    * The probe attaches to the final session, after set-up is timed. */
  def setup[T](body: SparkSession => T): T = {
    var last: Option[T] = None
    val times = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.GraftSession.local(cpus)
      graft.functions.GraftFunctions.registerAll(spark)
      last = Some(body(spark))
      (System.nanoTime() - t0) / 1e9
    }
    metrics("setup_s") = Harness.median(times)
    note(s"set-up times ${times.map(t => f"$t%.2f").mkString(" ")}")
    if (traceRun) probe = Some(new Probe(spark, stageRoot))
    measureStart = System.nanoTime()
    last.get
  }

  def stageRoot: String = s"${sys.props("java.io.tmpdir")}/graft_stage"

  def timeLeft: Boolean = (System.nanoTime() - measureStart) / 1e9 < seconds

  /** In a traced run, odd operations are traced and the rest run untraced,
    * so one run yields both sides of the tracing overhead. */
  def tracedOp(index: Int): Boolean = traceRun && index % 2 == 1

  /** Runs one operation. A throw is counted as failed and recorded. After
    * it, outside its timed interval and its probe window, a full GC samples
    * the heap and leaves the next operation a clean one. */
  def op(kind: String, traced: Boolean, items: Long)(body: => Unit): Option[Op] = {
    attempted += 1
    val before = if (traced) probe.map(_.snapshot()) else None
    val root = tracer.spans.size
    val t0 = System.nanoTime()
    val result =
      try Right(if (traced) tracer.span(kind)(body) else body)
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val c = (for (b <- before; p <- probe) yield p.snapshot().minus(b)).getOrElse(Counters())
    heapPeak = math.max(heapPeak, Probe.oldGenAfterGc())
    result match {
      case Left(e) =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      case Right(_) =>
        val rootId = if (traced) tracer.spans.drop(root).map(_.id).min else -1
        val o = Op(kind, wall, traced, items, c, rootId)
        note(f"$kind%s ${if (traced) "traced" else "plain"}%s $wall%.3fs")
        ops += o
        Some(o)
    }
  }

  /** A correctness check: one attempted operation, failed unless `ok`. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed =
      try ok
      catch { case scala.util.control.NonFatal(e) => fail(s"$what: ${e.getMessage}"); return }
    if (!passed) fail(what)
  }

  def fail(msg: String): Unit = {
    failures += msg
    note(s"FAILED $msg")
  }

  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")

  /** End-to-end metrics common to every workload. `first` is the run's
    * cold first operation and `later` the rest, of which the first third
    * still warms the JIT and is left out of the steady figures; a run of
    * one operation reports it as both. */
  def endToEnd(first: Op, later: Seq[Op], diskBytes: Double): Unit = {
    val steady = if (later.isEmpty) Seq(first) else later.drop(later.size / 3)
    metrics("first_op_s") = first.wall
    metrics("op_s") = Harness.median(steady.map(_.wall))
    metrics("items_per_s") = steady.map(_.items).sum / steady.map(_.wall).sum
    metrics("disk_mb") = diskBytes / 1e6
    metrics("heap_peak_mb") = heapPeak / 1e6
  }

  /** Per-layer metrics shared by every workload, medians per operation over
    * the traced operations `traced`, plus the workload's tracing overhead
    * (see [[Harness.overheadFrac]]). */
  def layerCommon(traced: Seq[Op], overheadFrac: Double): Unit = {
    def med(f: Op => Double): Double = Harness.median(traced.map(f))
    val cores = cpus.toDouble
    metrics("spark.plan.analysis_s") = med(_.counters.analysisMs / 1e3)
    metrics("spark.plan.optimization_s") = med(_.counters.optimizationMs / 1e3)
    metrics("spark.plan.planning_s") = med(_.counters.planningMs / 1e3)
    metrics("spark.sched.jobs") = med(_.counters.jobs.toDouble)
    metrics("spark.sched.stages") = med(_.counters.stages.toDouble)
    metrics("spark.sched.tasks") = med(_.counters.tasks.toDouble)
    metrics("spark.exec.slot_util") = med(o => o.counters.runMs / 1e3 / (o.wall * cores))
    metrics("spark.exec.run_s") = med(_.counters.runMs / 1e3)
    metrics("spark.exec.cpu_s") = med(_.counters.cpuNs / 1e9)
    metrics("spark.exec.gc_s") = med(_.counters.gcMs / 1e3)
    metrics("spark.shuffle.read_bytes") = med(_.counters.shuffleRead.toDouble)
    metrics("spark.shuffle.write_bytes") = med(_.counters.shuffleWrite.toDouble)
    metrics("spark.exec.spill_bytes") = med(_.counters.spill.toDouble)
    metrics("spark.tasks_failed") = traced.map(_.counters.tasksFailed).sum.toDouble
    // span self times: each span's duration minus its children's, summed
    // by name per operation; the op root's own share is benchmark glue
    val selfByOp = traced.map { o =>
      val tree = tracer.tree(o.spanRoot)
      val self = tracer.selfNs(tree)
      (o, tree.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 })
    }
    Harness.SpanMetrics.foreach { case (span, metric) =>
      metrics(metric) = Harness.median(selfByOp.map(_._2.getOrElse(span, 0.0)))
    }
    metrics("trace.root_self_s") =
      Harness.median(selfByOp.map { case (o, m) => m.getOrElse(o.kind, 0.0) })
    // Σ self time over an operation's layer spans (its root, the time no
    // layer covers, left out) must equal its wall clock measured outside
    // the tracer, within ReconcileTolerance
    val err = selfByOp.map { case (o, m) => math.abs((m - o.kind).values.sum - o.wall) / o.wall }
    metrics("trace.reconcile_err") = if (err.isEmpty) 0.0 else err.max
    check(f"layer span self time reconciles with wall time within ${Harness.ReconcileTolerance}%.2f " +
      f"(worst ${metrics("trace.reconcile_err")}%.4f)")(err.forall(_ <= Harness.ReconcileTolerance))
    metrics("trace.spans") = tracer.spans.size.toDouble
    metrics("trace.overhead_frac") = overheadFrac
  }
}

object Harness {
  /** Largest allowed |Σ layer span self time − wall| ÷ wall for a traced
    * operation. */
  val ReconcileTolerance = 0.02

  /** Tracing overhead: median traced ÷ median untraced operation − 1, over
    * operations doing the same work. */
  def overheadFrac(traced: Seq[Op], plain: Seq[Op]): Double =
    if (traced.isEmpty || plain.isEmpty) 0.0
    else median(traced.map(_.wall)) / median(plain.map(_.wall)) - 1

  /** Child spans whose self time is reported, by metric name. */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "sources.scan" -> "sources.scan_s",
    "etl.extract" -> "etl.extract_s",
    "etl.transform" -> "etl.transform_s",
    "etl.load.interchange" -> "etl.load.interchange_s",
    "etl.load.stage" -> "etl.load.stage_s",
    "etl.load.merge" -> "etl.load.merge_s",
    "stage_store.prepare" -> "stage_store.prepare_s",
    "ops.sink" -> "ops.sink_s")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def duBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L else org.apache.commons.io.FileUtils.sizeOfDirectory(f)
  }
}
