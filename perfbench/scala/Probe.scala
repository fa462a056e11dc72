package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: a layer's public call, timed from the
  * benchmark's side of the boundary. `parent` is -1 for an operation root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, run: String)

/** In-memory span recorder. Disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean, run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime(), run)
        stack = stack.tail
      }
    }

  /** Self time per span id: its duration minus the part its children cover
    * (children of one parent run one after another, never overlapping). */
  def selfNs(of: Seq[Span]): Map[Int, Long] = {
    val childNs = of.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    of.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Spans under (and including) root `rootId`. */
  def tree(rootId: Int): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Span] =
      spans.find(_.id == id).toSeq ++ byParent.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(rootId)
  }

  def jsonLines: Seq[String] = spans.sortBy(_.id).map { s =>
    f"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.toSeq
}

/** Cumulative counters fed by Spark's public listener APIs. Operations read
  * them as before/after deltas ([[Counters.minus]]). */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, tasksFailed: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0, outputBytes: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0,
    stageBuilds: Long = 0, stageBuildNs: Long = 0, stageReads: Long = 0,
    addBatchMs: Long = 0, queryPlanningMs: Long = 0, walCommitMs: Long = 0, inputRows: Long = 0) {
  def minus(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, tasksFailed - o.tasksFailed,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
    outputBytes - o.outputBytes, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    stageBuilds - o.stageBuilds, stageBuildNs - o.stageBuildNs, stageReads - o.stageReads,
    addBatchMs - o.addBatchMs, queryPlanningMs - o.queryPlanningMs,
    walCommitMs - o.walCommitMs, inputRows - o.inputRows)
}

/** The traced run's listeners: a `SparkListener` for scheduling and
  * executor work, a `QueryExecutionListener` for planning phases and for
  * stage-store writes and reads (paths under `stageRoot`), and a
  * `StreamingQueryListener` for micro-batch progress. Registered only in the
  * traced run. */
final class Probe(spark: SparkSession, stageRoot: String) {
  @volatile private var c = Counters()
  private val lock = new Object
  private def add(f: Counters => Counters): Unit = lock.synchronized { c = f(c) }
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(x => x.copy(jobs = x.jobs + 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(x => x.copy(stages = x.stages + 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != Success
      add { x =>
        val y = x.copy(tasks = x.tasks + 1, tasksFailed = x.tasksFailed + (if (failed) 1 else 0))
        if (m == null) y
        else y.copy(
          runMs = y.runMs + m.executorRunTime, cpuNs = y.cpuNs + m.executorCpuTime,
          gcMs = y.gcMs + m.jvmGCTime,
          shuffleRead = y.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = y.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          spill = y.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
          outputBytes = y.outputBytes + m.outputMetrics.bytesWritten)
      }
    }
  }

  private def underStageRoot(p: String): Boolean = p.contains(stageRoot)

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val build = writePath(qe.logical).exists(underStageRoot)
      val reads = if (build) 0 else scannedPaths(qe.optimizedPlan).count(underStageRoot).toLong
      add(x => x.copy(
        analysisMs = x.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
        optimizationMs = x.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
        planningMs = x.planningMs + ms(QueryPlanningTracker.PLANNING),
        stageBuilds = x.stageBuilds + (if (build) 1 else 0),
        stageBuildNs = x.stageBuildNs + (if (build) durationNs else 0L),
        stageReads = x.stageReads + reads))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      add(x => x.copy(
        addBatchMs = x.addBatchMs + ms("addBatch"),
        queryPlanningMs = x.queryPlanningMs + ms("queryPlanning"),
        walCommitMs = x.walCommitMs + ms("walCommit"),
        inputRows = x.inputRows + e.progress.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      terminated.add(e.id)
      ()
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = { Probe.drain(spark); lock.synchronized(c) }

  def sawTermination(id: java.util.UUID): Boolean = { Probe.drain(spark); terminated.contains(id) }

  private def writePath(p: LogicalPlan): Option[String] = p.collectFirst {
    case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
  }

  private def scannedPaths(p: LogicalPlan): Seq[String] = p.collectWithSubqueries {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }
  }.flatten
}

object Probe {
  /** Operator kinds the timed plan must keep: a sink that prunes any of
    * them times less work than the query's result needs. */
  val Guarded: Seq[String] = Seq("Join", "Aggregate", "Window", "Sort")

  def operatorCounts(p: LogicalPlan): Map[String, Int] = {
    val names = p.collectWithSubqueries { case n => n.nodeName }
    Guarded.map(k => k -> names.count(_ == k)).toMap
  }

  /** Wait until the listener bus has delivered every posted event. The
    * bus's drain call is Spark-internal, so it is reached reflectively; if
    * that fails the probe waits a fixed settle time instead. */
  def drain(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] listener bus drain unavailable ($e); settling 500 ms")
        Thread.sleep(500)
    }

  /** Old-generation bytes in use after two full collections 200 ms apart:
    * the pause lets Spark's cleaner release what the first one freed (at
    * 50 ms the figure still varied by a fifth from run to run). */
  def oldGenAfterGc(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getUsage.getUsed).sum
  }
}
