package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Source layer: the reference's paginated HTML scrape re-expressed as
  * a distributed generator over page documents.
  *
  * The reference (src/extract.py:119-201) loops pages sequentially on
  * one thread: GET page → select listing-card divs → parse each card
  * into a dict. Spark shape: a `Dataset` of (page, html) — in
  * production fetched per-partition by a DataSourceV2/`mapPartitions`
  * fetcher with the rate limiter below; offline, supplied as fixtures —
  * `flatMap`ped card-per-row (the S2 Generator) then parsed
  * field-per-column (P7). Card parsing uses regexes matching the
  * reference's CSS selectors (src/extract.py:91-116); a real crawler
  * would use an HTML parser library (not present in this container).
  */
object Extract {

  case class RawListing(
      ingest_order: Long, link: String, name: String, price_rp: String,
      location: String, lot_size: String, building_size: String,
      n_bedroom: String, n_bathroom: String, n_carport: String,
      badge: String, ads_type: String, property_type: String)

  val VALID_ADS_TYPES = Set("jual", "sewa")
  val VALID_PROPERTY_TYPES = Set("rumah", "apartemen", "kost", "villa", "hotel")

  /** Input-domain validation (reference src/extract.py:62-72), split so
    * callers validate only what they actually have: the pipeline has no
    * page count (its page set is the input Dataset). */
  def validateDomains(adsType: String, propertyType: String): Unit = {
    require(VALID_ADS_TYPES(adsType), s"Invalid ads type: $adsType")
    require(VALID_PROPERTY_TYPES(propertyType), s"Invalid property type: $propertyType")
  }

  def validate(adsType: String, propertyType: String, numPages: Int): Unit = {
    validateDomains(adsType, propertyType)
    require(numPages > 0, "num_pages must be a positive integer")
  }

  /** The reference's listing URL scheme (src/extract.py:143). */
  def pageUrl(adsType: String, region: String, propertyType: String, page: Int): String =
    s"https://www.rumah123.com/$adsType/$region/$propertyType/?sort=posted-desc&page=$page"

  private val CardRe = "(?s)<div class=\"card-featured__middle-section\".*?</div>\\s*</div>".r
  private def first(re: scala.util.matching.Regex, s: String): Option[String] =
    re.findFirstMatchIn(s).map(_.group(1).trim)
  private val LinkRe = "(?s)<a (?![^>]*class=\"[^\"]*quick-label-badge)[^>]*href=\"([^\"]*)\"".r
  private val NameRe = "(?s)<h2[^>]*>(.*?)</h2>".r
  private val PriceRe = "(?s)class=\"card-featured__middle-section__price\"[^>]*>.*?<strong[^>]*>(.*?)</strong>".r
  private val SpanRe = "(?s)<span[^>]*>(.*?)</span>".r
  private val AttrRe = "(?s)<span class=\"attribute-text\"[^>]*>(.*?)</span>".r
  private val SizeRe = "(?s)<div class=\"attribute-info\"[^>]*>(.*?)</div>".r
  private val BadgeRe = "(?s)class=\"card-featured__middle-section__header-badge\"[^>]*>(.*?)</div>".r
  private val TagStrip = "<[^>]*>".r

  private def text(html: String): String = TagStrip.replaceAllIn(html, "").trim

  /** One listing card → one raw row (reference parse_listing_card,
    * src/extract.py:91-116): null-safe field extraction, positional
    * pick of sizes/attributes, admin-list location match. */
  def parseCard(card: String, adminList: Seq[String]): RawListing = {
    val link = first(LinkRe, card).map("rumah123.com" + _).orNull
    val name = first(NameRe, card).map(text).orNull
    val price = first(PriceRe, card).map(text).orNull
    val spans = SpanRe.findAllMatchIn(card).map(m => text(m.group(1))).toSeq
    val location = spans.find(s => adminList.exists(a => s.toLowerCase.contains(a.toLowerCase))).getOrElse("")
    val attrs = AttrRe.findAllMatchIn(card).map(m => text(m.group(1))).toSeq
    val sizes = SizeRe.findAllMatchIn(card).map(m => text(m.group(1))).toSeq
    val badge = first(BadgeRe, card).map(text).getOrElse("")
    RawListing(0L, link, name, price, location,
      sizes.lift(0).orNull, sizes.lift(1).orNull,
      attrs.lift(0).orNull, attrs.lift(1).orNull, attrs.lift(2).orNull,
      badge, null, null)
  }

  /** Early-exit pagination (reference src/extract.py:171-173: stop at
    * the first page with zero cards). Pagination control is inherently
    * driver-side in the reference; here the page→cardcount map is tiny
    * (≤ num_pages rows) so the collect is bounded by config, then the
    * page set is pruned before the distributed parse. */
  def fromPagesWithEarlyExit(pages: Dataset[(Int, String)], adsType: String,
                             propertyType: String, adminList: Seq[String]): DataFrame = {
    import pages.sparkSession.implicits._
    // cache: the dataset is evaluated twice (cutoff scan + prune), and
    // for a fetcher-backed dataset an uncached double evaluation would
    // re-fetch every page. True fetch-side early exit lives in
    // graft.sources.PageSource (LIMIT pushdown plans only k pages).
    val cached = pages.cache()
    try {
      // only emptiness matters: findFirstIn stops at the first card
      // instead of running the backtracking card regex over the whole
      // page just to count matches nobody reads
      val emptyPages = cached
        .filter { case (_, html) => CardRe.findFirstIn(html).isEmpty }
        .map(_._1).collect()
      val cutoff = if (emptyPages.isEmpty) Int.MaxValue else emptyPages.min
      // pin only the KEPT pages (localCheckpoint is eager), then release
      // the full-fetch cache — otherwise every fetched page's HTML stays
      // in executor storage for the application lifetime; the kept
      // blocks are freed by the ContextCleaner when unreferenced
      val kept = cached.filter(_._1 < cutoff).localCheckpoint()
      fromPages(kept, adsType, propertyType, adminList)
    } finally {
      cached.unpersist()
      ()
    }
  }

  /** Pages → raw listing rows: the S2 generator (one page → N cards) as
    * a flatMap, constants attached per run (P8). `ingest_order`
    * preserves scrape order (page × 1e6 + card index, with the card
    * count validated against the stride) so keep-first dedup stays
    * deterministic — a colliding/interleaving order key would make the
    * dedup survivor run-dependent. */
  def fromPages(pages: Dataset[(Int, String)], adsType: String,
                propertyType: String, adminList: Seq[String]): DataFrame = {
    import pages.sparkSession.implicits._
    val admins = adminList
    pages.flatMap { case (pageNo, html) =>
      CardRe.findAllIn(html).zipWithIndex.map { case (card, i) =>
        require(i < OrderStride, s"page $pageNo has >= $OrderStride cards; ingest_order would collide")
        parseCard(card, admins).copy(
          ingest_order = pageNo.toLong * OrderStride + i,
          ads_type = adsType, property_type = propertyType)
      }
    }.toDF()
  }
  private val OrderStride = 1000000L
}

/** The reference's adaptive politeness limiter (src/extract.py:12-59)
  * as a pure state machine — testable without a network: base 1.0 s
  * (×0.8-1.2 jitter), ×1.5 exponential backoff on HTTP 429 capped at
  * 600 s, decay ×0.5/×0.7/×0.9 after ≥5/≥3/<3 consecutive successes,
  * floor 1.0 s. */
case class RateLimiter(baseSleep: Double = 1.0, minSleep: Double = 1.0,
                       maxSleep: Double = 600.0, currentSleep: Double = 1.0,
                       consecutiveSuccesses: Int = 0) {
  /** Seed the adaptive state from the configured base (the reference
    * starts sleeping at base_sleep, src/extract.py:14-21) — without
    * this, a non-default `baseSleep` would be configuration that
    * nothing reads. */
  def seeded: RateLimiter = copy(currentSleep = math.max(baseSleep, minSleep))
  def onSuccess: RateLimiter = {
    val n = consecutiveSuccesses + 1
    val decay = if (n >= 5) 0.5 else if (n >= 3) 0.7 else 0.9
    copy(currentSleep = math.max(minSleep, currentSleep * decay),
         consecutiveSuccesses = n)
  }
  def onRateLimited: RateLimiter =
    copy(currentSleep = math.min(maxSleep, currentSleep * 1.5),
         consecutiveSuccesses = 0)
  /** Non-429 failure (reference handle_other_error): reset the success
    * streak, back off once at 1.5× WITHOUT compounding the base. */
  def onOtherError: RateLimiter = copy(consecutiveSuccesses = 0)
  def otherErrorSleep: Double = currentSleep * 1.5
  /** Deterministic jitter bounds (the reference draws uniform(0.8, 1.2)). */
  def jitterBounds: (Double, Double) = (currentSleep * 0.8, currentSleep * 1.2)
}

/** One fetch attempt for a page: HTTP-ish (status, body). Implementations
  * must be serializable (instantiated inside DSv2 partition readers) and
  * have a no-arg constructor when named via the `fetcher` read option. */
trait PageFetcher extends Serializable {
  def fetch(page: Int, file: String): (Int, String)
}

/** Default fixture-backed fetcher: the page file always "responds 200"
  * (offline environment; a live build would issue the HTTP GET here). */
class FilePageFetcher extends PageFetcher {
  def fetch(page: Int, file: String): (Int, String) =
    (200, new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)),
      java.nio.charset.StandardCharsets.UTF_8))
}

/** The reference's per-page fetch loop (src/extract.py:158-195) around
  * a pluggable [[PageFetcher]]: politeness-sleep before every attempt,
  * 200 → decay and return the body, 429 → exponential backoff then
  * RETRY THE SAME PAGE (reference page_num -= 1, :180-184), any other
  * status → one plain backoff and give the page up (the reference moves
  * on and the page contributes no rows). Sleeping is injected so tests
  * assert the exact backoff schedule without wall-clock sleeps; the
  * durations are the deterministic centers of the reference's jittered
  * draws. A retry cap bounds the 429 loop (the reference relies on
  * max_sleep alone; unbounded retry inside a task would hang the
  * partition). */
object FetchLoop {
  def fetchPage(fetcher: PageFetcher, page: Int, file: String,
                limiter0: RateLimiter, sleep: Double => Unit,
                max429Retries: Int = 20): (Option[String], RateLimiter) = {
    var limiter = limiter0
    var tries429 = 0
    while (true) {
      sleep(limiter.currentSleep) // politeness delay, every attempt
      val (status, body) =
        try fetcher.fetch(page, file)
        catch { case scala.util.control.NonFatal(_) => (-1, "") }
      status match {
        case 200 =>
          return (Some(body), limiter.onSuccess)
        case 429 =>
          if (tries429 >= max429Retries) return (None, limiter)
          tries429 += 1
          limiter = limiter.onRateLimited
          sleep(limiter.currentSleep) // backoff, then same page again
        case _ =>
          limiter = limiter.onOtherError
          sleep(limiter.otherErrorSleep)
          return (None, limiter)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Executor-JVM-level adaptive limiter state, shared by every partition
  * reader that fetches through the same named fetcher with the same
  * sleep configuration (one fetcher class targets one host, so the key
  * is the politeness domain). The reference's limiter is one sequential
  * object (reference src/extract.py:14-21); task-local copies under
  * per-partition fetch parallelism would never carry 429 backoff or
  * politeness decay across pages, and N concurrent readers would
  * multiply the aggregate request rate N-fold. The lock is held across
  * the whole sleep+fetch loop, so page fetches against one key are
  * SERIALIZED within the JVM — reproducing the reference's sequential
  * politeness per executor. Across a real cluster the aggregate rate is
  * (number of executors) × (per-JVM rate): cap executor count or raise
  * `minSleepSec` when a host needs stricter politeness than that. */
object SharedLimiters {
  private val states = new java.util.concurrent.ConcurrentHashMap[String, RateLimiter]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` against the current shared state for `key` (seeded on
    * first use), storing the updated state it returns. */
  def withShared[T](key: String, seed: => RateLimiter)(
      body: RateLimiter => (T, RateLimiter)): T = {
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val st = states.computeIfAbsent(key, _ => seed)
      val (result, updated) = body(st)
      states.put(key, updated)
      result
    }
  }

  /** Current shared state for `key`, if any (tests/diagnostics). */
  def peek(key: String): Option[RateLimiter] = Option(states.get(key))

  /** Drop all shared state (tests; a long-lived service would call this
    * between unrelated crawl campaigns). */
  def reset(): Unit = { states.clear(); locks.clear() }
}

/** Region/run configuration (reference configs/extract.yaml +
  * configs/load.yaml), plus a dependency-free reader for the YAML
  * subset those files use (scalars + one list-of-structs + string
  * lists). No YAML library exists in this offline environment. */
case class RegionConfig(name: String, id: Int, admins: Seq[String], schedule: String)
case class ExtractConfig(regions: Seq[RegionConfig], adsType: String,
                         propertyType: String, numPages: Int)
case class LoadConfig(stagingTable: String, mainTable: String,
                      uniqueKey: String, batchSize: Int)

object MiniYaml {
  /** Indentation-aware parser for the YAML subset the reference configs
    * use: scalar mappings, string lists, and lists of structs with
    * nested string lists (the `regions:` shape in configs/extract.yaml —
    * `- name: x` / `  id: 1` / `  admins:` / `    - Jakarta Barat`).
    * Struct list items parse as `Map[String, Any]`. */
  def parse(src: String): Map[String, Any] = {
    val lines = src.linesIterator
      .map(stripComment)
      .filter(_.trim.nonEmpty)
      .map(l => (l.takeWhile(_ == ' ').length, l.trim))
      .toVector
    if (lines.isEmpty) Map.empty
    else parseMap(lines, 0, lines.head._1)._1
  }

  /** Cut a trailing `# comment`, but only when the `#` sits outside
    * quotes (`name: 'region #2'` keeps its value intact). */
  private def stripComment(line: String): String = {
    var quote: Char = 0
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '#') return line.take(i)
      i += 1
    }
    line
  }

  /** Mapping block with keys at `indent`; returns (map, next line index). */
  private def parseMap(lines: Vector[(Int, String)], start: Int, indent: Int): (Map[String, Any], Int) = {
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    var i = start
    while (i < lines.length && lines(i)._1 == indent && !lines(i)._2.startsWith("- ")) {
      val t = lines(i)._2
      val idx = t.indexOf(':')
      if (idx <= 0) i += 1
      else {
        val k = t.take(idx).trim
        val v = t.drop(idx + 1).trim
        if (v.nonEmpty) { out(k) = unquote(v); i += 1 }
        else if (i + 1 < lines.length && lines(i + 1)._1 > indent) {
          val childIndent = lines(i + 1)._1
          if (lines(i + 1)._2.startsWith("- ")) {
            val (lst, ni) = parseList(lines, i + 1, childIndent); out(k) = lst; i = ni
          } else {
            val (m, ni) = parseMap(lines, i + 1, childIndent); out(k) = m; i = ni
          }
        } else { out(k) = Nil; i += 1 }
      }
    }
    (out.toMap, i)
  }

  /** List block with `- ` items at `indent`. A `- k: v` item opens a
    * struct whose remaining keys sit at `indent + 2` (the column where
    * `k` starts after the dash). */
  private def parseList(lines: Vector[(Int, String)], start: Int, indent: Int): (List[Any], Int) = {
    val out = scala.collection.mutable.ListBuffer[Any]()
    var i = start
    while (i < lines.length && lines(i)._1 == indent && lines(i)._2.startsWith("- ")) {
      val item = lines(i)._2.drop(2).trim
      // a quoted item is always a scalar, even when it contains ": "
      // (e.g. `- 'note: temp'`)
      val quoted = item.startsWith("'") || item.startsWith("\"")
      val cidx = if (quoted) -1 else item.indexOf(": ")
      val bare = !quoted && item.endsWith(":")
      if (cidx > 0 || bare) {
        val (m, ni) = parseMap(lines.updated(i, (indent + 2, item)), i, indent + 2)
        out += m; i = ni
      } else { out += unquote(item); i += 1 }
    }
    (out.toList, i)
  }

  private def unquote(s: String): Any = {
    val quoted = (s.length >= 2) &&
      ((s.startsWith("'") && s.endsWith("'")) ||
       (s.startsWith("\"") && s.endsWith("\"")))
    val u = s.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\"")
    // numeric detection only for UNQUOTED scalars: YAML quoting forces
    // string ('007' must stay "007", not become Int 7) — the same
    // contract the list parser honors for quoted items
    if (!quoted && u.matches("-?\\d+"))
      // Int first (the config shapes use Int ids/counts), Long for
      // bigger literals, string when even Long overflows
      u.toIntOption.orElse(u.toLongOption).getOrElse(u)
    else u
  }

  /** Typed view of the reference's extract.yaml regions block. */
  def regions(cfg: Map[String, Any]): Seq[RegionConfig] =
    cfg.getOrElse("regions", Nil).asInstanceOf[List[Any]].map { r =>
      val m = r.asInstanceOf[Map[String, Any]]
      RegionConfig(
        name = m("name").toString,
        id = m("id").asInstanceOf[Int],
        admins = m.getOrElse("admins", Nil).asInstanceOf[List[Any]].map(_.toString),
        schedule = m.getOrElse("schedule", "").toString)
    }
}

/** Driver-side retry policy (reference dags/dags.py:22-23: 1 retry,
  * 5-minute delay) as a reusable helper. */
object Orchestration {
  def withRetry[T](retries: Int, delayMs: Long = 0L)(f: () => T): T = {
    var attempt = 0
    while (true) {
      // NonFatal only: OOM/interrupt/linkage errors must propagate
      // immediately, not be swallowed into a sleep-and-retry
      try return f() catch {
        case scala.util.control.NonFatal(e) =>
          if (attempt >= retries) throw e
          attempt += 1
          if (delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The reference's always-run cleanup task (dags/dags.py:121-134,
    * `TriggerRule.ALL_DONE`): run `body`, then delete every listed
    * path — on success AND on failure. Per-path problems are
    * skip-and-continue (the reference logs a warning for a missing
    * file and an error for a failed delete; neither may mask the
    * body's own outcome). */
  def withCleanup[T](paths: Seq[String])(body: => T): T =
    try body finally paths.foreach { p =>
      try {
        val f = new java.io.File(p)
        if (f.exists()) { org.apache.commons.io.FileUtils.forceDelete(f); () }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
}

/** Per-region pipeline wiring: the reference DAG E1 (extract →
  * transform → load) without Airflow (SURVEY.md §3). */
object Pipeline {
  def run(spark: SparkSession, pages: Dataset[(Int, String)],
          adsType: String, propertyType: String, admins: Seq[String],
          existing: Option[DataFrame], key: String = "link"): DataFrame = {
    Extract.validateDomains(adsType, propertyType)
    val raw = Extract.fromPages(pages, adsType, propertyType, admins)
    // ingest_order is internal scrape-order state for keep-first dedup;
    // the pipeline product drops it in BOTH branches so a first run's
    // output can feed back as `existing` (the loaded table, like the
    // reference's DB table, has no such column)
    val staged = Transform.transform(raw).drop("ingest_order")
    existing match {
      case Some(main) => Load.loadGuarded(main, staged, key)
      case None => staged
    }
  }
}
