package graft.sources

import graft.SparkSpec
import graft.etl.Extract

/** Scripted fake-HTTP fetcher for the 429-retry integration test:
  * page 2 rate-limits twice then serves, page 3 fails hard (503),
  * everything else serves the fixture file. Static state is fine —
  * tests run local-mode, executors share the JVM. */
class FlakyFetcher extends graft.etl.PageFetcher {
  def fetch(page: Int, file: String): (Int, String) = {
    val n = FlakyFetcher.attempts.merge(page, 1, Integer.sum)
    page match {
      case 2 if n <= 2 => (429, "")
      case 3 => (503, "")
      case _ => new graft.etl.FilePageFetcher().fetch(page, file)
    }
  }
}
object FlakyFetcher {
  val attempts = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  def reset(): Unit = attempts.clear()
}

/** DataSourceV2 page source: schema, pages packed into one partition
  * per core, and LIMIT pushdown (the reference's num_pages bound
  * reaching the source). */
class PageSourceSpec extends SparkSpec {

  private def card(link: String, name: String, price: String): String =
    s"""<div class="card-featured__middle-section">
       |<a href="$link"><h2>$name</h2></a>
       |<div class="card-featured__middle-section__price"><strong>$price</strong></div>
       |</div></div>""".stripMargin

  private def writePages(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pages").toString
    (1 to n).foreach { p =>
      val html = card(s"/properti/p$p-a", s"Rumah $p-A", s"Rp $p,5 Miliar") +
        card(s"/properti/p$p-b", s"Rumah $p-B", s"Rp ${p}00 Juta")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/page-$p.html"),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    dir
  }

  private def read(dir: String) =
    spark.read.format("graft.sources.PageSource").option("path", dir).load()

  private val LeafParallelism = "spark.sql.leafNodeDefaultParallelism"
  private def withLeafParallelism[T](n: Int)(body: => T): T = {
    spark.conf.set(LeafParallelism, n.toLong)
    try body finally spark.conf.unset(LeafParallelism)
  }

  /** Page numbers per input partition, in partition order. */
  private def partitions(df: org.apache.spark.sql.DataFrame): Seq[Seq[Int]] =
    df.rdd.glom().map(_.map(_.getInt(0)).toSeq).collect().toSeq

  test("reads one row per page file with the declared schema") {
    val dir = writePages(10)
    val df = read(dir)
    assert(df.schema.fieldNames.toSeq === Seq("page", "html"))
    assert(df.count() === 10)
    // min(pages, leaf parallelism) contiguous partitions, every page
    // exactly once in page order; without the SQL setting the leaf
    // parallelism is the context default
    val dflt = partitions(df)
    assert(dflt.length === math.min(10, spark.sparkContext.defaultParallelism))
    assert(dflt.flatten === (1 to 10))
    withLeafParallelism(3) {
      assert(partitions(read(dir)) === Seq(1 to 3, 4 to 6, 7 to 10))
    }
    withLeafParallelism(64) {
      assert(partitions(read(dir)) === (1 to 10).map(Seq(_)))
    }
  }

  test("LIMIT is pushed to the source: only k page partitions planned") {
    val dir = writePages(6)
    PageSource.lastPlannedPages = -1
    val rows = read(dir).limit(2).collect()
    assert(rows.length === 2)
    assert(PageSource.lastPlannedPages === 2,
      "limit must reach planInputPartitions (2 fetches, not 6)")
    assert(read(dir).queryExecution.executedPlan.toString.contains("PageScan"))
  }

  test("a named fetcher runs each partition through the 429-retry loop") {
    val dir = writePages(3)
    FlakyFetcher.reset()
    graft.etl.SharedLimiters.reset()
    val rows = spark.read.format("graft.sources.PageSource")
      .option("path", dir)
      .option("fetcher", "graft.sources.FlakyFetcher")
      // a named fetcher defaults to the reference's 1 s politeness
      // floor; zero it explicitly so the scripted 429s don't wall-sleep
      .option("baseSleepSec", "0").option("minSleepSec", "0")
      .load().collect()
    // page 2 succeeds on its third attempt (two 429s first), page 3's
    // 503 drops it: the loop retried the SAME page, then gave up only
    // on the non-429 failure
    assert(rows.map(_.getInt(0)).sorted.toSeq === Seq(1, 2))
    assert(FlakyFetcher.attempts.get(2) === 3, "429 page must be retried in place")
    assert(FlakyFetcher.attempts.get(3) === 1, "non-429 page is given up after one attempt")
    assert(rows.find(_.getInt(0) == 2).get.getString(1).contains("card-featured"))
    // the named-fetcher path must route through the JVM-shared limiter
    // (politeness domain = fetcher + sleep config): backoff/decay from
    // any page carries into every later fetch instead of restarting
    // from the seed per partition
    val key = "graft.sources.FlakyFetcher:0.0:0.0:600.0"
    val shared = graft.etl.SharedLimiters.peek(key)
    assert(shared.isDefined, "named fetcher must use the shared per-JVM limiter")
  }

  test("a failed page in a packed partition drops only its own row") {
    val dir = writePages(4)
    FlakyFetcher.reset()
    graft.etl.SharedLimiters.reset()
    val df = withLeafParallelism(1) {
      spark.read.format("graft.sources.PageSource")
        .option("path", dir)
        .option("fetcher", "graft.sources.FlakyFetcher")
        .option("baseSleepSec", "0").option("minSleepSec", "0")
        .load().localCheckpoint()
    }
    // all four pages share one reader: page 3's 503 emits no row and
    // the reader goes on to page 4
    assert(partitions(df) === Seq(Seq(1, 2, 4)))
    assert(FlakyFetcher.attempts.get(3) === 1)
    assert(FlakyFetcher.attempts.get(4) === 1)
  }

  test("feeds the extract pipeline: pages -> cards -> raw rows") {
    import spark.implicits._
    val dir = writePages(3)
    val pages = read(dir).as[(Int, String)]
    val raw = Extract.fromPages(pages, "jual", "rumah", Seq("Jakarta"))
    assert(raw.count() === 6) // 3 pages x 2 cards
    val links = raw.select("link").collect().map(_.getString(0)).toSet
    assert(links.contains("rumah123.com/properti/p1-a"))
  }
}
