package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.etl.{Extract, Load, Transform}
import graft.streaming.StreamingOps

/** The reference's daily job, one "day" per operation. A day is one
  * region-run per region, each: pages on disk → `PageSource` →
  * `Extract.fromPages` (the region's admin list) → `Transform.transform` →
  * `Load.datedJsonl` → `Load.jdbcUpsert` (ANSI MERGE) into one in-memory
  * Derby main table. An epoch replays every generated day into a fresh
  * database; days run until the run's time is spent (a traced run: two
  * epochs, each day traced in one of them and plain in the other). */
object ListingEtl {
  private val Cols = Seq("link", "name", "price_rp")

  /** Days a plain run measures at least, after its cold first day. */
  private val MinDays = 9

  private def createDb(url: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE p_main (link VARCHAR(128) PRIMARY KEY, name VARCHAR(128), price_rp BIGINT)")
      st.execute("CREATE TABLE p_stg (link VARCHAR(128), name VARCHAR(128), price_rp BIGINT)")
      st.close()
    } finally conn.close()
  }

  private def dropDb(name: String): Unit =
    try { java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true"); () }
    catch { case _: java.sql.SQLException => () } // a successful drop reports itself as an exception

  private def query[T](url: String, sql: String)(read: java.sql.ResultSet => T): Seq[T] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val out = Iterator.continually(rs).takeWhile(_.next()).map(read).toVector
      rs.close()
      out
    } finally conn.close()
  }

  private def exec(url: String, sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try { val st = conn.createStatement(); try st.execute(sql) finally st.close() }
    finally conn.close()
  }

  /** What a traced region-run materialized, counted after its day's timed
    * interval. */
  private final case class Layers(pages: DataFrame, raw: DataFrame, clean: DataFrame,
                                  staged: String, back: DataFrame)

  def run(h: Harness): Unit = {
    val days = h.int("days")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val regions = json.readTree(new java.io.File(s"${h.dataDir}/regions.json")).elements().asScala
      .map(r => r.get("name").asText -> r.get("admins").elements().asScala.map(_.asText).toSeq).toVector
    val expected = json.readTree(new java.io.File(s"${h.dataDir}/expected.json")).elements().asScala
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap).toVector
    val cardsPerDay = regions.size * h.int("pages") * h.int("cards")
    val runTag = s"pb${ProcessHandle.current().pid()}"
    var dbs = 0
    def freshDb(): String = {
      dbs += 1
      val url = s"jdbc:derby:memory:${runTag}_$dbs;create=true"
      createDb(url)
      url
    }
    var url = h.setup { _ => if (dbs > 0) dropDb(s"${runTag}_$dbs"); freshDb() }
    val spark = h.spark
    import spark.implicits._
    def mainRows(): Long = query(url, "SELECT COUNT(*) FROM p_main")(_.getLong(1)).head

    def regionRun(dir: String, admins: Seq[String], out: String, date: java.time.LocalDate,
                  traced: Boolean): Option[Layers] = {
      val t = h.tracer
      def read = spark.read.format("graft.sources.PageSource").option("path", dir).load().as[(Int, String)]
      if (!traced) {
        val clean = Transform.transform(Extract.fromPages(read, "jual", "rumah", admins))
        val staged = Load.datedJsonl(clean, "listings", out, date)
        val back = spark.read.schema(clean.schema).json(staged)
        Load.jdbcUpsert(back.select(Cols.map(col): _*), url, "p_stg", "p_main", "link",
          dialect = Load.AnsiMerge)
        None
      } else {
        // each layer's output is materialized at its boundary so that the
        // layer's work is its own action inside its own span
        val pages = t.span("sources.scan")(read.localCheckpoint(eager = true))
        val raw = t.span("etl.extract") {
          Extract.fromPages(pages, "jual", "rumah", admins).localCheckpoint(eager = true)
        }
        val clean = t.span("etl.transform")(Transform.transform(raw).localCheckpoint(eager = true))
        val staged = t.span("etl.load.interchange")(Load.datedJsonl(clean, "listings", out, date))
        val back = t.span("etl.load.stage") {
          val back = spark.read.schema(clean.schema).json(staged).select(Cols.map(col): _*)
          Load.stageOverwrite(back, url, "p_stg", 500, new java.util.Properties)
          back
        }
        t.span("etl.load.merge")(exec(url, Load.AnsiMerge.mergeSql("p_main", "p_stg", Cols, "link")))
        Some(Layers(pages.toDF(), raw, clean, staged, back))
      }
    }

    val dayStats = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val disk = scala.collection.mutable.ArrayBuffer.empty[Double]
    // day -> (traced, plain) operations; the run's cold first day is not kept
    val byDay = scala.collection.mutable.Map.empty[Int, (Seq[Op], Seq[Op])].withDefaultValue((Nil, Nil))
    def checkState(epoch: Int, day: Int): Unit = {
      val got = query(url, "SELECT link, price_rp FROM p_main")(r => r.getString(1) -> r.getLong(2)).toMap
      h.check(s"epoch $epoch day $day: Derby main table equals the expected link -> latest price " +
        s"set (${got.size} rows, expected ${expected(day - 1).size})")(got == expected(day - 1))
    }
    def more(index: Int): Boolean =
      if (h.traceRun) index < 2 * days else index <= MinDays || h.timeLeft

    var (epoch, d, index) = (0, 1, 0)
    while (more(index)) {
      if (d > days) {
        checkState(epoch, days)
        epoch += 1
        d = 1
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"${h.runDir}/interchange"))
        dropDb(s"${runTag}_$dbs")
        url = freshDb()
      }
      val out = s"${h.runDir}/interchange/day$d"
      val date = java.time.LocalDate.of(2024, 1, d)
      // every day is traced in one epoch and plain in the other
      val traced = h.traceRun && (d + epoch) % 2 == 0
      val before = if (traced) mainRows() else 0L
      var layers = Seq.empty[Layers]
      val op = h.op("etl.day", traced, cardsPerDay) {
        layers = regions.flatMap { case (region, admins) =>
          regionRun(s"${h.dataDir}/day$d/$region", admins, s"$out/$region", date, traced)
        }
      }
      // counted after the day's timed interval, outside its probe window
      disk += Harness.duBytes(out).toDouble
      if (traced && op.isDefined) {
        val cards = layers.map(_.raw.count()).sum.toDouble
        val rowsOut = layers.map(_.clean.count()).sum.toDouble
        val staged = layers.map(_.back.count()).sum
        val inserted = mainRows() - before
        dayStats += Map(
          "sources.pages" -> layers.map(_.pages.count()).sum.toDouble,
          "sources.bytes" -> Harness.duBytes(s"${h.dataDir}/day$d").toDouble,
          "etl.extract.cards" -> cards,
          "etl.transform.rows_in" -> cards,
          "etl.transform.rows_out" -> rowsOut,
          "etl.transform.keep_ratio" -> rowsOut / cards,
          "etl.load.interchange_bytes" -> layers.map(l => Harness.duBytes(l.staged)).sum.toDouble,
          "etl.load.rows_staged" -> staged.toDouble,
          "etl.load.rows_inserted" -> inserted.toDouble,
          "etl.load.rows_updated" -> (staged - inserted).toDouble)
      }
      if (index > 0) op.foreach { o =>
        val (t, p) = byDay(d)
        byDay(d) = if (traced) (t :+ o, p) else (t, p :+ o)
      }
      d += 1
      index += 1
    }
    checkState(epoch, d - 1)
    val dayOps = h.ops.filter(_.kind == "etl.day").toSeq
    if (!h.traceRun) h.endToEnd(dayOps.head, dayOps.tail, Harness.median(disk.toSeq))
    else {
      // tracing overhead over the days run both ways, so both sides cover the same days
      val paired = byDay.values.filter { case (t, p) => t.nonEmpty && p.nonEmpty }
      h.layerCommon(dayOps.filter(_.traced), Harness.overheadFrac(paired.flatMap(_._1).toSeq,
        paired.flatMap(_._2).toSeq))
      dayStats.head.keys.foreach(k => h.metrics(k) = Harness.median(dayStats.map(_(k)).toSeq))
      // the daily job's document ingest, after the timed days: its drain
      // alone costs more than a whole plain run of this workload, so only
      // the traced run pays for it
      DocIngest.tracedDrain(h, s"${h.dataDir}/ingest", h.int("quota"))
    }
    dropDb(s"${runTag}_$dbs")
  }
}

/** Five of the 21 headline queries of the engine's query registry, one per
  * operator family: relational aggregate, minhash dedup, its iterative
  * clustering, ANN and event sessionization. Each is timed to its full
  * result through a `noop` sink. One cold pass over an empty stage root
  * bills every stage build to the query that needs it; warm passes in
  * seed-shuffled orders then read the stage store. The other sixteen need
  * over a minute of cold stage builds between them, which does not fit a
  * benchmark run. */
object QuerySuite {
  val Queries: Seq[String] = Seq(
    "q_pricing_summary", "q_dedup_minhash", "q_dedup_cluster", "q_ann_ivf",
    "q_events_sessionize")

  /** Warm passes per run, at least. */
  private val WarmPasses = 11

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Completed stage dirs under the stage root, with their commit times. */
  private def stageDirs(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else {
      val st = Files.walk(r)
      try st.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS")
        .map(p => p.getParent.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally st.close()
    }
  }

  def run(h: Harness): Unit = {
    val d = h.dataDir
    h.setup { s => Tables.foreach(t => graft.Tables(s, d, t).createOrReplaceTempView(t)) }
    val spark = h.spark
    h.check("stage root is empty before the cold pass")(stageDirs(h.stageRoot).isEmpty)

    val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector())
    def pass(order: Seq[String], cold: Boolean): Unit =
      order.foreach { q =>
        val t0 = System.nanoTime()
        val df = h.tracer.span("stage_store.prepare")(SparkEntry.queries(q)(spark, d))
        h.tracer.span("ops.sink")(noop(df))
        val s = (System.nanoTime() - t0) / 1e9
        if (cold) h.metrics(s"ops.first_s.$q") = s else perQuery(q) = perQuery(q) :+ s
      }

    h.op("suite.cold_pass", h.traceRun, Queries.size)(pass(Queries, cold = true))
    val coldStages = stageDirs(h.stageRoot)
    val diskBytes = Harness.duBytes(h.stageRoot).toDouble
    val rng = new scala.util.Random(h.seed)
    var i = 0
    while (i < WarmPasses || h.timeLeft) {
      h.op("suite.warm_pass", h.tracedOp(i), Queries.size)(pass(rng.shuffle(Queries), cold = false))
      i += 1
    }
    h.check("warm passes build no stage: the completed stage dirs are unchanged")(
      stageDirs(h.stageRoot) == coldStages)

    val cold = h.ops.find(_.kind == "suite.cold_pass")
    val warm = h.ops.filter(_.kind == "suite.warm_pass").toSeq
    if (!h.traceRun) cold.foreach(c => h.endToEnd(c, warm, diskBytes))
    else {
      val traced = warm.filter(_.traced)
      h.layerCommon(traced, Harness.overheadFrac(traced, warm.filterNot(_.traced)))
      cold.foreach { c =>
        h.metrics("stage_store.builds") = c.counters.stageBuilds.toDouble
        h.metrics("stage_store.build_s") = c.counters.stageBuildNs / 1e9
      }
      h.metrics("stage_store.dirs") = coldStages.size.toDouble
      h.metrics("stage_store.bytes") = diskBytes
      h.metrics("stage_store.reads") = Harness.median(traced.map(_.counters.stageReads.toDouble))
      h.metrics("stage_store.warm_builds") = traced.map(_.counters.stageBuilds).sum.toDouble
      Queries.foreach(q => h.metrics(s"ops.steady_s.$q") = Harness.median(perQuery(q)))
    }

    // correctness, outside every timed region: results for the oracle
    // compare and, in the traced run, the plan guard on exactly what the
    // passes timed
    h.note("results for the oracle compare")
    val out = s"${h.runDir}/results"
    Queries.foreach { q =>
      SparkEntry.queries(q)(spark, d).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    }
    if (h.traceRun) Queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      val want = Probe.operatorCounts(df.queryExecution.optimizedPlan)
      val got = Probe.operatorCounts(PlanCapture.sinkPlan(spark)(noop(df)))
      h.check(s"$q: the noop-sink plan keeps every ${Probe.Guarded.mkString("/")} " +
        s"(query $want, sink $got)")(Probe.Guarded.forall(k => got(k) >= want(k)))
    }
    val oracle = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap.asJava
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(s"$out/oracle_sql.json"), oracle)
  }
}

/** Captures the optimized plan of the one action run by `body`. */
object PlanCapture {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.QueryExecution

  def sinkPlan(spark: SparkSession)(body: => Unit): LogicalPlan = {
    val seen = new java.util.concurrent.atomic.AtomicReference[LogicalPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        seen.compareAndSet(null, qe.optimizedPlan)
        ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; Probe.drain(spark) }
    finally spark.listenerManager.unregister(l)
    require(seen.get != null, "no query execution was reported for the sink")
    seen.get
  }
}

/** The monitored daily ingest: a documents corpus with embeddings, landed
  * as one batch and drained with `Trigger.AvailableNow` through
  * `StreamingOps.dailyIngestMonitored` against a frozen (label, pos, qc)
  * quantizer derived from `embeddings`. `listing_etl`'s traced run ends
  * with one traced drain, which gives the `streaming` layer's metrics. */
object DocIngest {
  def quantizer(s: SparkSession, d: String): DataFrame = {
    val qc = s.read.parquet(s"$d/embeddings.parquet")
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(floor(avg(col("v").cast("double")) * 1.0e6 + 0.5).cast("long").as("qc"))
      .collect()
    s.createDataFrame(java.util.Arrays.asList(qc: _*),
      new org.apache.spark.sql.types.StructType()
        .add("label", "long").add("pos", "long").add("qc", "long"))
  }

  /** One traced drain of `d/batch.parquet` into fresh state, then its
    * checks and the `streaming` metrics. */
  def tracedDrain(h: Harness, d: String, quota: Int): Unit = {
    val spark = h.spark
    val batch = s"$d/batch.parquet"
    val centroids = quantizer(spark, d)
    val schema = spark.read.parquet(batch).schema
    val base = s"${h.runDir}/ingest"
    val (landing, root, ckpt) = (s"$base/landing", s"$base/state", s"$base/ckpt")
    // the batch lands before the drain starts: arrival is not timed
    Files.createDirectories(Paths.get(landing))
    Files.copy(Paths.get(batch), Paths.get(s"$landing/batch-0.parquet"))
    val t = h.tracer
    var id: java.util.UUID = null
    val op = h.op("ingest.drain", traced = true, spark.read.parquet(batch).count()) {
      val q = t.span("streaming.start") {
        StreamingOps.dailyIngestMonitored(spark, spark.readStream.schema(schema).parquet(landing),
          quota, centroids, root, ckpt).trigger(Trigger.AvailableNow()).start()
      }
      t.span("streaming.await")(q.awaitTermination())
      id = q.id
    }
    h.check("the drain's termination event reached the listener")(
      id != null && h.probe.exists(_.sawTermination(id)))
    val admitted = ids(spark.read.parquet(s"$root/admitted"))
    val members = ids(spark.read.parquet(s"$root/ivf").filter(col("kind") === "member")
      .select(col("vec_id").as("doc_id")))
    h.check("ingest: IVF members equal the admitted ids")(members == admitted)
    h.check("ingest: one history row per drain")(
      spark.read.parquet(s"$root/history").select("batch_seq").collect().map(_.getLong(0)).toSeq == Seq(0L))
    // the parity DailyIngestSpec checks: the streamed survivors equal the
    // batch path over the same delivery
    val replay = s"$base/batch_path"
    StreamingOps.dailyIngestBatch(spark, spark.read.parquet(batch), quota, replay)
    h.check("ingest: streamed survivors equal the batch-path recomputation")(
      ids(spark.read.parquet(s"$root/survivors")) == ids(spark.read.parquet(s"$replay/survivors")))
    op.foreach { o =>
      val c = o.counters
      h.metrics("streaming.add_batch_s") = c.addBatchMs / 1e3
      h.metrics("streaming.query_planning_s") = c.queryPlanningMs / 1e3
      h.metrics("streaming.wal_commit_s") = c.walCommitMs / 1e3
      h.metrics("streaming.input_rows") = c.inputRows.toDouble
      h.metrics("streaming.jobs_per_drain") = c.jobs.toDouble
      h.metrics("streaming.state_bytes_written") = c.outputBytes.toDouble
      h.metrics("streaming.write_amp") = c.outputBytes / Files.size(Paths.get(batch)).toDouble
    }
  }

  private def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
}
