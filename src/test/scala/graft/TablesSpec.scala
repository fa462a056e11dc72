package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The base-table schema memo behind every [[Tables]] read: a served
  * schema is exactly the inferred one, a repeat read runs no Spark
  * job, and a changed file, a touched mtime or a changed parquet read
  * conf all re-infer. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(l)
    try { body; drainListenerBus(); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def withTempDir(body: Path => Unit): Unit = {
    val d = Files.createTempDirectory("tables-spec")
    try body(d) finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  test("a memo-served read has exactly the schema of an uncached read, for every table") {
    Tables.events(spark, sf001) // pins nanosAsLong, as every events read does
    names.foreach { t =>
      val path = s"$sf001/$t.parquet"
      Tables.read(spark, path)
      val served = Tables.read(spark, path).schema
      val direct = spark.read.parquet(path).schema
      // StructType equality covers names, order, types, nullability, metadata
      assert(served === direct, s"$t: ${served.treeString} vs ${direct.treeString}")
    }
    assert(Tables.events(spark, sf001).schema ===
      Tables.normalizeEvents(spark.read.parquet(s"$sf001/events.parquet")).schema)
  }

  test("a repeated read runs no Spark job") {
    names.foreach(t => Tables(spark, sf001, t))
    assert(jobsDuring(names.foreach(t => Tables(spark, sf001, t))) === 0)
  }

  test("a rewritten path returns its new schema; touching only its mtime re-infers") {
    withTempDir { dir =>
      val path = dir.resolve("t.parquet").toString
      Seq((1, "a")).toDF("k", "v").write.parquet(path)
      assert(Tables.read(spark, path).columns.toSeq === Seq("k", "v"))
      Seq((1L, 2.0, "x")).toDF("k", "w", "z").write.mode("overwrite").parquet(path)
      assert(Tables.read(spark, path).columns.toSeq === Seq("k", "w", "z"))
      assert(jobsDuring(Tables.read(spark, path)) === 0)

      val part = new java.io.File(path).listFiles().find(_.getName.startsWith("part-")).get.toPath
      Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(part).toMillis + 5000))
      assert(jobsDuring(Tables.read(spark, path)) > 0, "an mtime change must re-infer")
      assert(jobsDuring(Tables.read(spark, path)) === 0)
    }
  }

  test("the parquet read conf is part of the memo key (TIMESTAMP_NTZ inference toggle)") {
    withTempDir { dir =>
      // written with the bare parquet writer: a Spark-written file
      // carries its Spark schema in the footer, which inference trusts
      // over the conf, so only a foreign file shows the conf's effect
      val path = dir.resolve("ntz.parquet").toString
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("t", 1704164640000000L))
      finally w.close()
      val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
      try {
        spark.conf.set(conf, "true")
        assert(Tables.read(spark, path).schema("t").dataType === TimestampNTZType)
        spark.conf.set(conf, "false")
        assert(Tables.read(spark, path).schema("t").dataType === TimestampType)
        spark.conf.set(conf, "true")
        assert(Tables.read(spark, path).schema("t").dataType === TimestampNTZType)
      } finally spark.conf.unset(conf)
    }
  }

  test("two reads of one table self-join through Dataset-bound columns") {
    Tables.orders(spark, sf001)
    val a = Tables.orders(spark, sf001)
    val b = Tables.orders(spark, sf001)
    // not the trivially-true `a(k) === b(k)`: Dataset.join re-resolves
    // that one to both sides even when a and b share one relation
    val keys = a.select("o_orderkey").collect().map(_.getAs[Number](0).longValue).toSet
    val want = keys.count(k => keys(k + 1))
    assert(want > 0)
    assert(a.join(b, a("o_orderkey") + 1 === b("o_orderkey")).count() === want)
  }
}
