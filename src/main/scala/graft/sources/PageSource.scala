package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 for the reference's paginated listing scan (reference
  * src/extract.py:119-201): one row per page `(page INT, html STRING)`,
  * fixture-backed by a directory of `page-N.html` files (offline
  * environment — a live build would fetch the URL from
  * [[graft.etl.Extract.pageUrl]] inside the partition reader). The pages
  * are packed into `min(pages, leaf parallelism)` contiguous input
  * partitions of near-equal size, one task per core: reading one page is
  * less work than a task's fixed scheduling cost. Each reader loops
  * over its pages in order, applying the [[graft.etl.RateLimiter]] per
  * page fetch.
  *
  * Implements `SupportsPushDownLimit`: the reference's `num_pages`
  * bound (reference configs/extract.yaml:46) and early-exit semantics
  * (src/extract.py:171-173) become a LIMIT that reaches the source, so
  * `spark.read.format(...).load().limit(3)` plans exactly 3 pages
  * instead of scanning everything and discarding — at crawl
  * scale, the difference between 3 HTTP fetches and all of them.
  *
  * Usage: `spark.read.format("graft.sources.PageSource")
  *   .option("path", dir).load()`
  */
class PageSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PageSource.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null,
      "graft.sources.PageSource requires the 'path' option (directory of page-N.html files)")
    new PageTable(path)
  }
}

object PageSource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("html", StringType, nullable = false)))

  /** Observability hook for tests: pages planned by the last scan. */
  @volatile var lastPlannedPages: Int = -1

  private[sources] def listPages(path: String): Array[(Int, java.io.File)] = {
    val re = "page-(\\d+)\\.html".r
    val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
    files.flatMap { f =>
      f.getName match {
        case re(n) => Some((n.toInt, f))
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** Spark's own parallelism for a leaf scan:
    * `spark.sql.leafNodeDefaultParallelism`, else the context default. */
  private[sources] def leafParallelism: Int = {
    val spark = SparkSession.active
    spark.conf.getOption("spark.sql.leafNodeDefaultParallelism").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
  }

  /** `pages` in order, cut into `min(pages, slots)` contiguous groups
    * whose sizes differ by at most one. */
  private[sources] def pack[T](pages: Seq[T], slots: Int): Seq[Seq[T]] = {
    val n = math.min(pages.length, slots)
    (0 until n).map(i => pages.slice(i * pages.length / n, (i + 1) * pages.length / n))
  }
}

class PageTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"pages($path)"
  override def schema(): StructType = PageSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PageScanBuilder(path, PageFetchConf(options))
}

/** Fetch-side read options: `fetcher` names a [[graft.etl.PageFetcher]]
  * class (no-arg constructor) to run each page attempt through the
  * reference's 429-retry loop ([[graft.etl.FetchLoop]]); the sleep knobs
  * seed the [[graft.etl.RateLimiter]]. Defaults depend on the
  * fetcher: the file-backed default sleeps 0 s (no server to be polite
  * to offline), but a NAMED fetcher defaults to the reference's 1 s
  * base/floor — otherwise a live source would inherit a zero-sleep
  * limiter whose 429 backoff stays 0 forever (0 × 1.5 = 0) and hammer
  * the rate-limited server with back-to-back retries. */
case class PageFetchConf(fetcherClass: Option[String], baseSleep: Double,
                         minSleep: Double, maxSleep: Double) extends Serializable

object PageFetchConf {
  def apply(options: CaseInsensitiveStringMap): PageFetchConf = {
    val fetcher = Option(options.get("fetcher"))
    val dflt = if (fetcher.isDefined) 1.0 else 0.0
    PageFetchConf(
      fetcher,
      options.getDouble("baseSleepSec", dflt),
      options.getDouble("minSleepSec", dflt),
      options.getDouble("maxSleepSec", 600.0))
  }
}

class PageScanBuilder(path: String, conf: PageFetchConf)
  extends ScanBuilder with SupportsPushDownLimit {
  private var limit: Int = Int.MaxValue
  /** Fully pushed ONLY for the file-backed default, where every planned
    * page emits exactly one row, so taking `limit` pages IS the limit.
    * With a named (live) fetcher a page can fail its fetch and emit NO
    * row — claiming full pushdown there would let Spark drop its
    * residual Limit and return fewer rows than the table can supply;
    * the pushdown is declined so every page is scanned and Spark's own
    * Limit takes what it needs. */
  override def pushLimit(l: Int): Boolean =
    if (conf.fetcherClass.isEmpty) { limit = l; true } else false
  override def isPartiallyPushed: Boolean = false
  override def build(): Scan = new PageScan(path, limit, conf)
}

class PageScan(path: String, limit: Int, conf: PageFetchConf) extends Scan with Batch {
  override def readSchema(): StructType = PageSource.SCHEMA
  override def toBatch: Batch = this
  override def description(): String = s"PageScan(path=$path, pageLimit=$limit)"
  override def planInputPartitions(): Array[InputPartition] = {
    val pages = PageSource.listPages(path).take(limit).map { case (n, f) => (n, f.getAbsolutePath) }
    PageSource.lastPlannedPages = pages.length
    PageSource.pack(pages.toSeq, PageSource.leafParallelism)
      .map(PagePartition(_): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = PageReaderFactory(conf)
}

/** A contiguous run of `(page, file)` pairs, read in order by one task. */
case class PagePartition(pages: Seq[(Int, String)]) extends InputPartition

/** Each partition reader drives the reference's per-page fetch loop
  * (politeness sleep → attempt → 429-backoff-retry-same-page → give up
  * on other errors) over its pages in order. A page whose fetch
  * ultimately fails emits NO row (the reference appends nothing for
  * it) and the reader moves on to the next page.
  *
  * Limiter scope: a NAMED (live) fetcher shares one adaptive limiter
  * per (fetcher, sleep-config) across every reader in the executor JVM
  * ([[graft.etl.SharedLimiters]]) — 429 backoff and politeness decay
  * observed on any page carry into every subsequent fetch, and fetches
  * against that host are serialized per JVM like the reference's
  * sequential loop. The file-backed default keeps per-page state (no
  * server to be polite to offline; full per-partition parallelism). */
case class PageReaderFactory(conf: PageFetchConf) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val pages = p.asInstanceOf[PagePartition].pages.iterator
    new PartitionReader[InternalRow] {
      private val fetcher: graft.etl.PageFetcher = conf.fetcherClass
        .map(c => Class.forName(c).getDeclaredConstructor().newInstance()
          .asInstanceOf[graft.etl.PageFetcher])
        .getOrElse(new graft.etl.FilePageFetcher)
      private val sharedKey = conf.fetcherClass
        .map(cls => s"$cls:${conf.baseSleep}:${conf.minSleep}:${conf.maxSleep}")
      private var row: InternalRow = _
      private def seed = graft.etl.RateLimiter(
        baseSleep = conf.baseSleep, minSleep = conf.minSleep,
        maxSleep = conf.maxSleep).seeded
      private def runFetch(page: Int, file: String, limiter: graft.etl.RateLimiter) =
        graft.etl.FetchLoop.fetchPage(
          fetcher, page, file, limiter,
          s => if (s > 0) Thread.sleep((s * 1000).toLong))
      override def next(): Boolean = {
        while (pages.hasNext) {
          val (page, file) = pages.next()
          val fetched = sharedKey match {
            case Some(key) =>
              graft.etl.SharedLimiters.withShared(key, seed)(l => runFetch(page, file, l))
            case None => runFetch(page, file, seed)._1
          }
          fetched match {
            case Some(html) =>
              row = InternalRow(page, UTF8String.fromString(html))
              return true
            case None => // failed fetch: this page emits no row
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
