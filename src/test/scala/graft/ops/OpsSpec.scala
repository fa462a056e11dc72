package graft.ops

import graft.{SparkSpec, SparkEntry}

/** Invariant tests for the operator surface over the sf0.001 fixtures.
  * (Exact value equality vs DuckDB is the driver's Verify gate; these
  * lock in structural invariants and the planted-duplicate recall of
  * the dedup family.) */
class OpsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf001)

  test("every registered query returns rows at sf0.001") {
    val allowEmpty = Set("q_anti_join") // selective NOT EXISTS may be empty at tiny sf
    SparkEntry.queries.keys.foreach { name =>
      val n = run(name).count()
      assert(allowEmpty(name) || n > 0, s"$name returned 0 rows")
    }
  }

  test("every query with an oracle has matching column names") {
    // column ALIGNMENT (names present in SQL text) is checked by the
    // oracle compare (tools/check_oracle.py); here every query must have
    // an oracle and every oracle a query
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("exact dedup finds every planted duplicate") {
    // corpus = documents twice (snapshot ids 2d / 2d+1) → every content
    // hash has exactly 2 copies and the survivor is the first-snapshot
    // (even) id
    val rows = run("q_dedup_exact").collect()
    assert(rows.forall(_.getAs[Long]("n_copies") == 2L))
    assert(rows.forall(_.getAs[Long]("keep_id") % 2 == 0L))
  }

  test("minhash LSH recalls all identical-doc pairs") {
    val pairs = run("q_dedup_minhash").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val nDocs = graft.Tables.documents(spark, sf001).count()
    // identical docs share all shingles → all bands collide; the two
    // snapshot copies of doc d carry ids 2d and 2d+1
    (0L until nDocs).foreach { id =>
      assert(pairs.contains((2 * id, 2 * id + 1L)), s"missing planted pair for doc $id")
    }
  }

  test("ngram jaccard scores planted duplicates at 1.0") {
    val rows = run("q_dedup_ngram_jaccard").collect()
    val planted = rows.filter { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      b - a == 1L && a % 2 == 0 // snapshot copies: (2d, 2d+1)
    }
    assert(planted.nonEmpty)
    assert(planted.forall(_.getAs[Double]("jaccard") == 1.0))
  }

  test("simhash pairs include planted duplicates at hamming 0") {
    val rows = run("q_dedup_simhash_pairs").collect()
    val planted = rows.filter { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      b - a == 1L && a % 2 == 0 // snapshot copies: (2d, 2d+1)
    }
    assert(planted.nonEmpty)
    assert(planted.forall(_.getAs[Int]("hamming") == 0))
  }

  test("knn returns exactly k=10 ranked neighbors per query vector") {
    val rows = run("q_knn_bruteforce").collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size === 5)
    byQuery.values.foreach { g =>
      assert(g.length === 10)
      assert(g.map(_.getAs[Int]("rk")).sorted.toSeq === (1 to 10))
      // ranks ordered by descending cosine
      val byRank = g.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cosine"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ann neighbors share the query's sign bucket") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).take(8).map(v => if (v > 0) '1' else '0').mkString)
      .toMap
    run("q_ann_sign_lsh").collect().foreach { r =>
      assert(emb(r.getAs[Long]("query_id")) === emb(r.getAs[Long]("neighbor_id")))
    }
  }

  test("sessionize: session event counts sum to total events") {
    val total = graft.Tables.events(spark, sf001).count()
    val sessions = run("q_events_sessionize").collect()
    assert(sessions.map(_.getAs[Long]("n_events")).sum === total)
    assert(sessions.forall(r => r.getAs[Long]("start_us") <= r.getAs[Long]("end_us")))
  }

  test("tumbling windows partition all events") {
    val total = graft.Tables.events(spark, sf001).count()
    val windows = run("q_events_tumbling").collect()
    assert(windows.map(_.getAs[Long]("n_events")).sum === total)
    assert(windows.forall(_.getAs[Long]("window_start") % 300 == 0))
  }

  test("langid marks docs containing English stopwords as en") {
    val rows = run("q_text_langid").collect()
    // synthetic corpus text contains 'the' etc. — at least some en
    assert(rows.exists(_.getAs[String]("lang_guess") == "en"))
    rows.foreach { r =>
      val (en, id) = (r.getAs[Int]("en_hits"), r.getAs[Int]("id_hits"))
      val g = r.getAs[String]("lang_guess")
      assert(if (en > id) g == "en" else if (id > en) g == "id" else g == "und")
    }
  }

  test("asof join: matched purchase is at or before the click") {
    val rows = run("q_asof_join").collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getAs[Long]("last_purchase_us") <= r.getAs[Long]("us"))
    }
  }

  test("percentiles: p50 <= p90 and within observed value range") {
    run("q_percentiles").collect().foreach { r =>
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p90"))
    }
  }

  test("salted aggregation equals direct aggregation") {
    import org.apache.spark.sql.functions._
    val direct = graft.Tables.lineitem(spark, sf001)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = run("q_agg_salted")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted === direct)
  }

  test("quality score stays in [0, 1]") {
    run("q_text_quality").collect().foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("connected components labels every node with its component minimum") {
    import spark.implicits._
    // two chains (1-2-3-4, 10-11) and a triangle (20,21,22): propagation
    // must cross multi-hop chains, not just direct neighbors
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L)).toDF("a", "b")
    val got = Cluster.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("cluster ids are closed under the pair set (members agree with their pairs)") {
    import org.apache.spark.sql.functions._
    val clusters = run("q_dedup_cluster")
    val pairs = run("q_dedup_minhash")
    // every pair must land in the same cluster
    val disagree = pairs
      .join(clusters.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "ca"), "doc_a")
      .join(clusters.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "cb"), "doc_b")
      .filter(col("ca") =!= col("cb")).count()
    assert(disagree === 0L)
  }

  test("star variant converges in O(log n) rounds on a long chain") {
    import spark.implicits._
    // a 200-node path has diameter 199: plain propagation would need
    // ~200 rounds (why it is NOT run here); large-star/small-star must
    // collapse it in logarithmic rounds — the scale claim, asserted
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Cluster.connectedComponentsStar(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 200 && labels.forall(_._2 == 0L),
      "every chain node must label to the minimum id")
    assert(Cluster.lastRounds <= 12,
      s"expected O(log 200) ~ 8 rounds, got ${Cluster.lastRounds}")
  }

  test("connected components of an empty edge list is empty (no NPE on empty sum)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Cluster.connectedComponents(empty).count() === 0L)
    assert(Cluster.connectedComponentsStar(empty).count() === 0L)
  }

  test("both CC variants keep self-loop-only nodes as singleton components") {
    import spark.implicits._
    val edges = Seq((5L, 5L), (1L, 2L)).toDF("a", "b")
    val expected = Map(5L -> 5L, 1L -> 1L, 2L -> 1L)
    val plain = Cluster.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val star = Cluster.connectedComponentsStar(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(plain === expected)
    assert(star === expected)
  }

  test("star CC does not early-stop on a multi-parent non-star state") {
    import spark.implicits._
    // after ONE large+small round, {(4,3),(5,3),(4,2),(5,1)} becomes
    // {(3,1),(3,2),(5,1),(4,2)}: leaf set {3,4,5} is disjoint from
    // root set {1,2} — a chains-only fixed-point test declares
    // convergence here — but node 3 has TWO parents (not a star
    // forest) and the single component {1..5} is still split. The
    // convergence test must also require one-parent-per-leaf.
    val edges = Seq((4L, 3L), (5L, 3L), (4L, 2L), (5L, 1L)).toDF("a", "b")
    val star = Cluster.connectedComponentsStar(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(star.map(_._1).distinct.length === star.length,
      "duplicate doc_id rows: loop stopped on a multi-parent state")
    assert(star.toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connected components agrees with brute-force union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 30
      val edges = (1 to 40).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: classic union-find over the same edges
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> {
          // min id in the component = root after full path compression
          var r = id.toInt; while (parent(r) != r) r = parent(r); r.toLong
        }).toMap
      val got = Cluster.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === expected)
      // the O(log n) large-star/small-star variant must agree exactly
      val star = Cluster.connectedComponentsStar(edges.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(star === expected)
    }
  }

  test("global row numbering emits exactly the consecutive ids 1..N") {
    val ids = run("q_global_rownum").collect().map(_.getAs[Long]("global_id")).sorted
    assert(ids.toList === (1L to ids.length).toList)
  }

  test("per-source cap keeps at most 30 docs per source, ranks consecutive") {
    val rows = run("q_cap_per_source").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("rn")))
    rows.groupBy(_._1).foreach { case (src, xs) =>
      val rns = xs.map(_._2).sorted.toList
      assert(rns.length <= 30 && rns === (1 to rns.length).toList,
        s"source $src has ranks $rns")
    }
  }

  test("BPE merge loop matches an independent Scala trainer on a crafted corpus") {
    import spark.implicits._
    // back-to-back pair occurrences included on purpose: "banana"
    // (a,n twice with a shared letter between) and "aaaa" (a run of
    // identical symbols) are exactly the shapes a naive string-replace
    // fuse gets wrong — the reference trainer is the ground truth
    val text = "hug hug hug hug hug pug pug bug bun hugs " +
      "banana banana banana nan aaaa aaaa aaaa aaaa"
    graft.functions.GraftFunctions.registerAll(spark)
    Seq((0L, text)).toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = spark.sql(SqlOps.bpeMerges.single(SparkDialect)).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toList
    // reference trainer, from first principles: greedy left-to-right
    // non-overlapping fuse, winner by (count DESC, pair ASC)
    def fuse(s: List[String], a: String, b: String): List[String] = s match {
      case x :: y :: rest if x == a && y == b => (a + b) :: fuse(rest, a, b)
      case x :: rest => x :: fuse(rest, a, b)
      case Nil => Nil
    }
    var vocab: Map[List[String], Long] = text.split(" ").toSeq
      .groupBy(identity).map { case (w, ws) => w.map(_.toString).toList -> ws.size.toLong }
    val expected = (1 to 3).map { r =>
      val counts = vocab.toSeq
        .flatMap { case (syms, c) => syms.sliding(2).collect { case List(a, b) => ((a, b), c) } }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val ((a, b), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.toSeq.map { case (syms, c) => (fuse(syms, a, b), c) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
      (r, a, b, cnt)
    }.toList
    assert(got === expected)
    spark.catalog.dropTempView("documents")
  }

  test("time-weighted average: step integral on crafted gaps, plain mean on zero span") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    // user 1: 10.0 held 30 s, then 20.0 held 10 s, last event weightless
    //   → (10·30 + 20·10) / 40 = 12.5 — NOT the plain mean (10.6̄)
    // user 2: single observation → falls back to the value itself
    // user 3: two events at the SAME second (zero span) → plain mean
    val rows = Seq(
      (1L, 1L, t(0), "view", 10.0), (1L, 2L, t(30), "view", 20.0),
      (1L, 3L, t(40), "view", 0.0),
      (2L, 4L, t(100), "view", 7.0),
      (3L, 5L, t(200), "view", 1.0), (3L, 6L, t(200), "view", 3.0))
    rows.toDF("user_id", "event_id", "ts", "event_type", "value")
      .createOrReplaceTempView("events")
    val got = spark.sql(SqlOps.eventsTimeWeightedAvg(SparkDialect)).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("twa"))).toMap
    assert(got === Map(1L -> 12.5, 2L -> 7.0, 3L -> 2.0))
    spark.catalog.dropTempView("events")
  }

  test("delta minhash candidates equal the full pair set restricted to new docs") {
    def pairSet(q: String) = run(q).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val full = pairSet("q_dedup_minhash")
    val delta = pairSet("q_dedup_minhash_delta")
    def isNew(x: Long) = x % SqlOps.NewDocMod == SqlOps.NewDocRem
    assert(delta === full.filter { case (a, b) => isNew(a) || isNew(b) },
      "probing the band index with only new signatures must recover " +
        "exactly the full candidate pairs that touch a new doc")
  }

  test("dedup cascade economics agree with the family queries it summarizes") {
    val rows = run("q_dedup_cascade_cost").collect()
      .map(r => r.getAs[String]("technique") ->
        ((r.getAs[Long]("cand_pairs"), r.getAs[Long]("true_pairs")))).toMap
    assert(rows.keySet === Set("minhash", "simhash_bands", "prefix", "truth"))
    // cross-checks against the standalone family queries: the cascade
    // must not recount — minhash candidates are the staged mh_cand,
    // truth is the exact jaccard query's own row count
    assert(rows("minhash")._1 === run("q_dedup_minhash").count())
    val truth = run("q_dedup_ngram_jaccard").count()
    assert(rows("truth") === ((truth, truth)))
    rows.values.foreach { case (cand, verified) =>
      assert(verified <= cand, "a technique cannot verify more than it admits")
      assert(verified <= truth)
    }
    assert(rows("simhash_bands")._1 > rows("minhash")._1,
      "band-collision counting (pre-Hamming) must be visibly coarser")
  }

  test("langid F1 rows recompute exactly from the confusion matrix") {
    val conf = run("q_text_langid_eval").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("lang_guess")) ->
        r.getAs[Long]("n")).toMap
    val labels = conf.keys.map(_._1).toSet
    val got = run("q_langid_f1").collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn")))).toMap
    assert(got.keySet === labels)
    labels.foreach { l =>
      val tp = conf.getOrElse((l, l), 0L)
      val fp = conf.collect { case ((a, g), n) if g == l && a != l => n }.sum
      val fn = conf.collect { case ((a, g), n) if a == l && g != l => n }.sum
      assert(got(l) === ((tp, fp, fn)), s"lang $l")
    }
  }

  test("delta prefix probe equals the full verified pair set restricted to new docs") {
    def rows(q: String) = run(q).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val full = rows("q_dedup_prefix")
    val delta = rows("q_dedup_prefix_delta")
    def isNew(x: Long) = x % SqlOps.NewDocMod == SqlOps.NewDocRem
    assert(delta === full.filter { case (a, b, _) => isNew(a) || isNew(b) },
      "probing the rarity-ranked prefix index with only new docs' prefix " +
        "rows must recover exactly the full verified pairs that touch a " +
        "new doc — the position bound is symmetric, so the new×all join's " +
        "double orientation must collapse in the GROUP BY")
    assert(delta.nonEmpty,
      "vacuous fixture: no verified near-dup pair touches the NewDoc slice")
  }

  test("incremental IVF delta: new-slice assignment against the staged " +
    "centroids equals a from-scratch rebuild's assignment") {
    // the frozen-centroid contract of the ANN index's incremental twin
    // (q_ann_ivf_delta): the staged ivfd_cent artifact must yield the
    // SAME per-vector cell for today's delta slice as centroids
    // recomputed from the base corpus right now — a stale or truncated
    // staged centroid table would pass the statistics-level oracle's
    // per-cell rollup while silently mis-assigning individual vectors
    run("q_ann_ivf_delta").collect() // builds ivfd_cent/ivfd_stats + embeddings view
    val d = SparkDialect
    def assignWith(centView: String): Map[Long, Long] = {
      val sql = (s"WITH ${SqlOps.ivfdAssignCtes(d, SqlOps.ivfdDeltaSrc(d))} " +
        "SELECT vec_id, cell FROM asgn").replace("ivfd_cent", centView)
      // the cell label arrives as INT (ROW_NUMBER-derived label domain)
      spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toMap
    }
    val viaStaged = assignWith("ivfd_cent")
    spark.sql(SqlOps.ivfdCentStage(d)).createOrReplaceTempView("ivfd_cent_fresh")
    val viaFresh = assignWith("ivfd_cent_fresh")
    assert(viaStaged.nonEmpty, "the delta slice must assign at least one vector")
    // completeness: every well-formed delta vector gets a cell
    val deltaIds = spark.sql(SqlOps.ivfdDeltaSrc(d))
      .collect().map(_.getLong(0)).toSet
    assert(viaStaged.keySet === deltaIds,
      "every 64-dim delta vector must be assigned (completeness guard)")
    assert(viaStaged === viaFresh,
      "staged-centroid delta assignment diverged from a fresh rebuild")
    spark.catalog.dropTempView("ivfd_cent_fresh")
  }

  test("chao1 richness is consistent with the Good-Turing table and its own closed form") {
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val gt = run("q_good_turing").collect()
      .map(r => r.getAs[Long]("r") -> r).toMap
    val ch = run("q_chao1_richness").collect().head
    // the two ops read ONE staged gt_vc — their class counts must agree
    assert(ch.getAs[Long]("singletons") === gt(1L).getAs[Long]("n_r"))
    assert(ch.getAs[Long]("doubletons") === gt(2L).getAs[Long]("n_r"))
    assert(ch.getAs[Long]("vocab") === gt(1L).getAs[Long]("vocab"))
    assert(ch.getAs[Long]("n_tokens") === gt(1L).getAs[Long]("n_tokens"))
    val (v, n, n1, n2) = (ch.getAs[Long]("vocab"), ch.getAs[Long]("n_tokens"),
      ch.getAs[Long]("singletons"), ch.getAs[Long]("doubletons"))
    assert(ch.getAs[Double]("chao1") ===
      q6(v.toDouble + n1.toDouble * (n1 - 1) / (2.0 * (n2 + 1))))
    assert(ch.getAs[Long]("coverage_ppm") === 1000000L * (n - n1) / n)
    // richness can never undercut the observed vocabulary
    assert(ch.getAs[Double]("chao1") >= v.toDouble)
  }

  test("hill tail index equals an independent top-k order-statistics replay") {
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val got = run("q_hill_tail").collect().head
    // the run staged gt_vc as a temp view — replay the estimator off it
    val counts = spark.sql("SELECT s, c FROM gt_vc").collect()
      .map(r => (r.getAs[String]("s"), r.getAs[Long]("c")))
      .sortBy { case (s, c) => (-c, s) }
    def ql(x: Long): Long =
      math.floor(math.log(x.toDouble) / math.log(2.0) * 1e6 + 0.5).toLong
    val k = 16
    assert(counts.size >= k + 1, "fixture vocabulary must cover k+1 ranks")
    val ck = counts(k)._2 // rank k+1, 0-indexed
    val slog2 = counts.take(k).map { case (_, c) => ql(c) - ql(ck) }.sum
    assert(got.getAs[Long]("sum_log2_mu") === slog2)
    assert(got.getAs[Double]("hill_inv") === q6(0.693147180559945 * slog2 / (1.0e6 * k)))
    assert(got.getAs[Double]("tail_index") === q6(1.0e6 * k / (0.693147180559945 * slog2)))
  }

  test("difference-in-differences equals an independent four-cell replay") {
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val got = run("q_did_estimator").collect().head
    val pivot = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val ev = graft.Tables.events(spark, sf001)
      .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value").collect()
      .map(r => (r.getAs[Long]("user_id") % 2,
        if (!r.getAs[java.sql.Timestamp]("ts").before(pivot)) 1 else 0,
        // valueOf (Double.toString repr), not the exact-binary ctor —
        // Spark's double→DECIMAL cast goes through valueOf semantics
        BigDecimal.valueOf(r.getAs[Double]("value")).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    def cell(g: Long, p: Int) = {
      val rows = ev.filter(e => e._1 == g && e._2 == p)
      (rows.size.toLong, rows.map(_._3).sum)
    }
    val m = Map(
      (0, 0) -> cell(0, 0), (0, 1) -> cell(0, 1),
      (1, 0) -> cell(1, 0), (1, 1) -> cell(1, 1))
    def mean(g: Int, p: Int) = m((g, p))._2.toDouble / m((g, p))._1
    assert(got.getAs[Long]("n00") === m((0, 0))._1)
    assert(got.getAs[Long]("n11") === m((1, 1))._1)
    assert(got.getAs[Double]("mean_ctrl_pre") === q6(mean(0, 0)))
    assert(got.getAs[Double]("mean_treat_post") === q6(mean(1, 1)))
    assert(got.getAs[Double]("did_estimate") ===
      q6((mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))))
  }

  test("brier decomposition: Murphy identity against a directly-computed binned Brier") {
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val cal = run("q_quality_calibration").collect()
      .filter(_.getAs[Long]("n_docs") > 0)
      .map(r => (r.getAs[Long]("n_docs"),
        r.getAs[Long]("conf_ppm"), r.getAs[Long]("acc_ppm")))
    val br = run("q_quality_brier").collect().head
    val n = cal.map(_._1).sum
    assert(br.getAs[Long]("n_docs") === n)
    // direct binned Brier: within a bin the forecast is p̄ and the
    // outcome is 1 w.p. ȳ — E[(p̄−y)²] = ȳ(1−p̄)² + (1−ȳ)p̄²; the
    // Murphy decomposition (REL − RES + UNC) must equal this up to the
    // ppm rounding of the bin means (≤ a few µ per term)
    val direct = cal.map { case (nk, confPpm, accPpm) =>
      val p = confPpm / 1e6; val y = accPpm / 1e6
      nk * (y * (1 - p) * (1 - p) + (1 - y) * p * p)
    }.sum / n
    assert(math.abs(br.getAs[Double]("brier_score") - direct) < 1e-4,
      s"identity violated: decomposition=${br.getAs[Double]("brier_score")} direct=$direct")
    // uncertainty is exactly ȳ(1−ȳ) off the emitted base rate
    val yb = br.getAs[Long]("base_rate_ppm")
    assert(br.getAs[Double]("uncertainty") === q6(yb.toDouble * (1000000 - yb) / 1e12))
    // the score must buy something on this corpus: resolution > 0
    assert(br.getAs[Double]("resolution") > 0.0)
  }

  test("ivf balance: audit equals a recount over the staged assignment") {
    val got = run("q_ivf_balance").collect().head
    // the run staged ivf_nvc as a temp view — recount it directly
    val sizes = spark.sql("SELECT cell, COUNT(*) AS n FROM ivf_nvc GROUP BY cell")
      .collect().map(r => r.getAs[Long]("n"))
    val total = sizes.sum
    assert(got.getAs[Long]("n_cells") === sizes.length.toLong)
    assert(got.getAs[Long]("n_vectors") === total)
    assert(got.getAs[Long]("max_n") === sizes.max)
    assert(got.getAs[Long]("min_n") === sizes.min)
    assert(got.getAs[Long]("max_over_mean_ppm") ===
      1000000L * sizes.max * sizes.length / total)
    assert(got.getAs[Long]("expected_probe_mu") ===
      1000000L * sizes.map(x => x * x).sum / total)
  }

  test("incremental CC merges delta edges into a base map (all merge shapes)") {
    import spark.implicits._
    // base: components {1,2,3}, {10,11}, {20,21} (labels 1, 10, 20)
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    val baseMap = Cluster.connectedComponents(base)
    // delta exercises every shape at once:
    //  - (30,10): NEW doc bridges into a base component
    //  - (30,2):  ...and via the same new doc MERGES components 1 and 10
    //  - (40,41): new-new pair forming its own fresh cluster
    //  - (0,20):  new doc whose id UNDERCUTS the base label — the
    //             touched component must relabel to the new minimum
    val delta = Seq((30L, 10L), (30L, 2L), (40L, 41L), (0L, 20L)).toDF("a", "b")
    val got = Cluster.incrementalUpdate(baseMap, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Cluster.connectedComponents(base.union(delta))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)
    // spot-check the interesting rows: merged 1∪10 component keeps 1,
    // the undercut component re-labels to 0, untouched nothing remains
    assert(got(11L) === 1L && got(30L) === 1L)
    assert(got(20L) === 0L && got(21L) === 0L)
    assert(got(40L) === 40L && got(41L) === 40L)
  }

  test("requireMinLabelMap accepts CC output and rejects a foreign-labeled map") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val good = Cluster.connectedComponents(edges)
    Cluster.requireMinLabelMap(good) // must not throw
    // a map whose label is NOT a member row of its own cluster (e.g.
    // built by a max-label CC variant, then the representative row lost)
    val bad = Seq((1L, 99L), (2L, 99L), (3L, 99L)).toDF("doc_id", "cluster_id")
    val e = intercept[IllegalArgumentException](Cluster.requireMinLabelMap(bad))
    assert(e.getMessage.contains("invariant"))
  }

  test("DuckDialect reReplaceAll translates $N backrefs and rejects untranslatable replacements") {
    val sql = DuckDialect.reReplaceAll("w", "(.)", "$1 ")
    assert(sql.contains("""'\1 '"""), s"backref must become \\1: $sql")
    intercept[IllegalArgumentException](DuckDialect.reReplaceAll("w", "(.)", "a$b"))
    intercept[IllegalArgumentException](DuckDialect.reReplaceAll("w", "(.)", "a\\b"))
  }

  test("incremental CC equals full rebuild on random base/delta splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val n = 40
      val edges = (1 to 60).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // the same split rule the registered query uses: an edge touching
      // any "new" node is delta; the base map never saw those nodes
      def isNew(x: Long) = x % 5 == 3
      val (delta, baseE) = edges.partition { case (a, b) => isNew(a) || isNew(b) }
      val baseMap = Cluster.connectedComponents(baseE.toDF("a", "b"))
      val got = Cluster.incrementalUpdate(baseMap, delta.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val full = Cluster.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === full)
    }
  }

  test("chunking covers every token with stride-12 windows ending at the last token") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_toks"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_toks")).toMap
    val chunks = run("q_chunk_documents").collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet === docs.keySet.filter(docs(_) > 0))
    chunks.foreach { case (id, rows) =>
      val n = docs(id)
      val sorted = rows.sortBy(_.getAs[Int]("chunk_no"))
      assert(sorted.map(_.getAs[Int]("chunk_no")).toSeq === sorted.indices)
      val expected = if (n <= 16) 1 else 1 + math.ceil((n - 16) / 12.0).toInt
      assert(sorted.length === expected, s"doc $id: $n toks")
      // every chunk but the last is full; the last ends at token n
      sorted.init.foreach(r => assert(r.getAs[Int]("n_chunk_toks") === 16))
      val last = sorted.last
      assert((sorted.length - 1) * 12 + last.getAs[Int]("n_chunk_toks") === n,
        s"doc $id: last chunk must end at the final token")
      // consecutive chunks overlap by 4 tokens
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val at = a.getAs[String]("chunk_text").split(" ")
          val bt = b.getAs[String]("chunk_text").split(" ")
          assert(at.drop(12).sameElements(bt.take(at.length - 12)),
            s"doc $id: chunks ${a.getAs[Int]("chunk_no")}/${b.getAs[Int]("chunk_no")} must overlap")
        case _ => ()
      }
    }
  }

  test("entropy is bounded by log2(n_types) and zero for single-type docs") {
    val rows = run("q_text_entropy").collect()
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy_bits")
      val types = r.getAs[Long]("n_types")
      assert(h >= 0.0 && h <= math.log(types.toDouble) / math.log(2) + 1e-4,
        s"doc ${r.getAs[Long]("doc_id")}: H=$h outside [0, log2($types)]")
      if (types == 1) assert(h === 0.0)
    }
    // word-soup docs have many types: entropy must be materially positive
    assert(rows.count(_.getAs[Double]("entropy_bits") > 1.0) > rows.length / 2)
  }

  test("scrub removes exactly the stopword occurrences and nothing else") {
    import org.apache.spark.sql.functions._
    val stops = Set("the", "and", "of", "to", "in", "is", "a",
      "yang", "dan", "di", "ke", "itu", "untuk")
    val orig = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    run("q_text_scrub").collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toks = orig(id).split(" ", -1)
      val expectKept = toks.filterNot(stops)
      assert(r.getAs[String]("clean_text") === expectKept.mkString(" "))
      assert(r.getAs[Int]("n_removed") === toks.length - expectKept.length)
    }
  }

  test("int8 quantization: codes in [-127,127], scale component hits ±127") {
    val emb = graft.Tables(spark, sf001, "embeddings")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    val rows = run("q_embedding_quantize").collect()
    // zero vectors excluded, everything else present
    assert(rows.length === emb.count(_._2.exists(_ != 0f)))
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val codes = r.getAs[String]("codes").split(",").map(_.toLong)
      assert(codes.length === r.getAs[Int]("n_dims"))
      assert(codes.length === emb(id).length)
      assert(codes.forall(c => c >= -127 && c <= 127),
        s"vec $id: code outside int8 range")
      assert(codes.exists(c => math.abs(c) == 127),
        s"vec $id: the max-|v| component must quantize to ±127")
    }
  }

  test("minhash estimate scores planted duplicates at exactly 1.0") {
    val rows = run("q_dedup_minhash_est").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Double]("est_jaccard")
      assert(e >= 0.0 && e <= 1.0)
    }
    val planted = rows.filter { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      b - a == 1L && a % 2 == 0 // snapshot copies (2d, 2d+1): identical signatures
    }
    assert(planted.nonEmpty)
    assert(planted.forall(_.getAs[Double]("est_jaccard") == 1.0))
  }

  test("corpus report partitions all docs by source with sane fractions") {
    val docs = graft.Tables.documents(spark, sf001)
    val total = docs.count()
    val rows = run("q_corpus_report").collect()
    assert(rows.map(_.getAs[String]("source")).distinct.length === rows.length)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_unique") <= r.getAs[Long]("n_docs"))
      val d = r.getAs[Double]("dup_frac")
      assert(d >= 0.0 && d < 1.0)
      val q = r.getAs[Double]("avg_quality")
      assert(q >= 0.0 && q <= 1.0, s"${r.getAs[String]("source")}: avg_quality=$q")
      assert(r.getAs[Long]("n_en") <= r.getAs[Long]("n_docs"))
    }
  }

  test("audio windows tile each payload with hop 192 and end at the last byte") {
    import org.apache.spark.sql.functions._
    val sizes = graft.Tables.documents(spark, sf001)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), octet_length(col("text").cast("binary")).as("nb"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("nb")).toMap
    val wins = run("q_multimodal_audio").collect().groupBy(_.getAs[Long]("doc_id"))
    assert(wins.keySet === sizes.keySet)
    wins.foreach { case (id, rows) =>
      val nb = sizes(id)
      val sorted = rows.sortBy(_.getAs[Int]("win_no"))
      assert(sorted.map(_.getAs[Int]("win_no")).toSeq === sorted.indices)
      sorted.foreach { w =>
        assert(w.getAs[Int]("start_byte") === w.getAs[Int]("win_no") * 192)
        assert(w.getAs[Int]("win_len") ===
          math.min(nb - w.getAs[Int]("start_byte"), 256))
      }
      val last = sorted.last
      assert(last.getAs[Int]("start_byte") + last.getAs[Int]("win_len") === nb,
        s"doc $id: windows must reach the final byte")
      if (sorted.length > 1)
        sorted.init.foreach(w => assert(w.getAs[Int]("win_len") === 256))
    }
  }

  test("PQ codes match an independent Scala reimplementation") {
    val rows = graft.Tables(spark, sf001, "embeddings").collect().map { r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    }
    def qv(v: Float): Long = math.floor(v.toDouble * 1e6 + 0.5).toLong
    // codebook: per-label µ-quantized component means (shared with IVF)
    val byLabel = rows.groupBy(_._2)
    val cent: Map[Int, Array[Long]] = byLabel.map { case (lbl, vs) =>
      val dims = vs.head._3.length
      lbl -> Array.tabulate(dims) { p =>
        val qs = vs.map(v => qv(v._3(p)))
        math.floor(qs.sum.toDouble / qs.length + 0.5).toLong
      }
    }
    val expected = rows.filter(_._3.length == 64).map { case (id, _, emb) =>
      val q = emb.map(qv)
      val codes = (0 until 4).map { b =>
        cent.toSeq.map { case (lbl, c) =>
          val d2 = (0 until 16).map { i =>
            val d = q(b * 16 + i) - c(b * 16 + i); d * d
          }.sum
          (d2, lbl)
        }.min._2
      }
      id -> codes
    }.toMap
    val got = run("q_ann_pq").collect().map { r =>
      r.getAs[Long]("vec_id") ->
        (0 until 4).map(b => r.getAs[Int](s"code$b"))
    }.toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (id, codes) =>
      assert(codes === expected(id), s"vec $id: PQ codes diverge")
    }
  }

  test("funnel stages are monotonically narrowing") {
    val rows = run("q_events_funnel").collect()
      .map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(rows.keySet === Set(1, 2, 3))
    assert(rows(1) >= rows(2) && rows(2) >= rows(3),
      s"funnel must narrow: $rows")
    assert(rows(1) > 0)
  }

  test("retention: offset-0 equals cohort size and later offsets never exceed it") {
    val rows = run("q_orders_retention").collect().map(r =>
      ((r.getAs[Int]("cohort_year"), r.getAs[Int]("cohort_month")),
        r.getAs[Int]("months_later"), r.getAs[Long]("n_customers")))
    assert(rows.forall(_._2 >= 0), "no activity before a customer's first month")
    val cohortSize = rows.collect { case (c, 0, n) => c -> n }.toMap
    assert(cohortSize.nonEmpty, "every cohort has an offset-0 row")
    rows.foreach { case (c, _, n) =>
      assert(n <= cohortSize(c), s"cohort $c: retained > cohort size")
    }
    val nCust = graft.Tables(spark, sf001, "orders")
      .select("o_custkey").distinct().count()
    assert(cohortSize.values.sum === nCust,
      "cohorts at offset 0 partition all ordering customers")
  }

  test("first/last window frame: one row per customer, first <= last by date order") {
    import org.apache.spark.sql.functions._
    val rows = run("q_window_first_last").collect()
    val nCust = graft.Tables(spark, sf001, "orders")
      .select("o_custkey").distinct().count()
    assert(rows.length.toLong === nCust, "exactly one row per ordering customer")
    rows.filter(_.getAs[Long]("n_orders") == 1L).foreach { r =>
      assert(r.getAs[Long]("first_order") === r.getAs[Long]("last_order"))
    }
    assert(rows.exists(r =>
      r.getAs[Long]("n_orders") > 1L &&
        r.getAs[Long]("first_order") != r.getAs[Long]("last_order")),
      "multi-order customers must show distinct endpoints (LAST_VALUE frame trap)")
  }

  test("langid eval matrix accounts for every document") {
    val rows = run("q_text_langid_eval").collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === graft.Tables.documents(spark, sf001).count())
    // en recall: docs labeled en and guessed en must exist (the corpus
    // plants English stopwords in en docs)
    assert(rows.exists(r => r.getAs[String]("lang") == "en" &&
      r.getAs[String]("lang_guess") == "en" && r.getAs[Long]("n") > 0))
  }

  test("stratified sample takes at most 50 per language, deterministically") {
    val a = run("q_sample_stratified").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = run("q_sample_stratified").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
    a.groupBy(_._2).foreach { case (_, docs) => assert(docs.size <= 50) }
  }

  test("sequence packing matches an independent Scala reimplementation") {
    // the dual-dialect oracle CANNOT catch a bug whose SQL renders
    // identically in both engines (the `% 8` precedence slip produced
    // ~128 shards, green at every SF) — this reimplements the whole
    // packing computation in plain Scala from the raw table and
    // compares row-for-row
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = graft.Tables.documents(spark, sf001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val expected = docs.map { case (id, text) =>
      val mh = md5hex(text)
      val shard = (Character.digit(mh(0), 16) * 16 + Character.digit(mh(1), 16)) % 8
      // Spark split keeps trailing empty strings; mirror with limit -1
      (id, shard, text.split(" ", -1).length.toLong, mh)
    }.groupBy(_._2).iterator.flatMap { case (_, ds) =>
      var cum = 0L
      ds.sortBy(d => (d._4, d._1)).map { case (id, shard, nt, _) =>
        val before = cum
        cum += nt
        (id, (shard.toLong, nt, cum, before / 512L))
      }
    }.toMap
    val actual = run("q_pack_sequences").collect().map { r =>
      (r.getAs[Long]("doc_id"),
        (r.getAs[Number]("shard").longValue, r.getAs[Long]("n_tokens"),
          r.getAs[Long]("cum_tokens"), r.getAs[Long]("seq_id")))
    }.toMap
    assert(actual.size === expected.size)
    expected.foreach { case (id, exp) =>
      assert(actual(id) === exp, s"doc $id: expected $exp got ${actual(id)}")
    }
    // structural invariant: exactly 8 shards and every sequence starts
    // under the budget boundary (a doc may overflow it by construction)
    assert(actual.values.map(_._1).toSet.subsetOf((0L until 8L).toSet))
  }

  test("weighted sample matches an independent Scala reimplementation") {
    // same oracle-blindness class as packing: the 48-bit hex-digit
    // uniform and the u/w priority render identically in both dialects
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = graft.Tables.documents(spark, sf001)
      .selectExpr("doc_id", "text", "n_chars").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[Long]("n_chars")))
    val expected = docs.filter(_._3 > 0).map { case (id, text, nc) =>
      val mh = md5hex(text)
      val u48 = mh.take(12).foldLeft(0L)((acc, c) => acc * 16 + Character.digit(c, 16))
      (id, u48.toDouble / nc)
    }.sortBy { case (id, p) => (p, id) }.take(100)
    val actual = run("q_sample_weighted").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("priority")))
    assert(actual.toList === expected.toList)
  }

  test("pca power step matches an independent Scala matmul") {
    val rows = graft.Tables.embeddings(spark, sf001)
      .selectExpr("embedding").collect()
      .map(_.getSeq[Float](0).map(v => math.floor(v.toDouble * 1024.0 + 0.5).toLong))
    val dims = rows.head.length
    val expected = (0 until dims).map { d =>
      d.toLong -> rows.map(r => r(d) * r.sum).sum
    }.toMap
    val actual = run("q_pca_power_step").collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Long]("y")).toMap
    assert(actual === expected)
    assert(actual.values.exists(_ != 0L))
  }

  test("sorted-neighborhood pairs match an independent Scala sweep over the digests") {
    // neighbor selection + hamming verify are shared SQL; reimplement
    // block → sort → 3-predecessor compare in plain Scala from the
    // staged digests (simhash itself is covered by ExpressionSpec)
    run("q_dedup_simhash_pairs").count() // ensures sh_sim is staged
    val digests = spark.table("sh_sim").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash")))
    val expected = digests.groupBy(_._2 / 16777216).iterator.flatMap { case (_, ds) =>
      val sorted = ds.sortBy(x => (x._2, x._1))
      for {
        i <- sorted.indices
        k <- 1 to 3
        if i - k >= 0
        (idA, shA) = sorted(i - k)
        (idB, shB) = sorted(i)
        h = java.lang.Long.bitCount(shA ^ shB)
        if h <= 3
      } yield (math.min(idA, idB), math.max(idA, idB), h.toLong)
    }.toSet
    val actual = run("q_dedup_sorted_neighborhood").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    assert(actual === expected)
    assert(actual.nonEmpty, "planted duplicates must produce adjacent digests")
  }

  test("skyline matches brute-force O(n²) dominance") {
    // the bucket-prune + survivor-window composition is shared SQL —
    // blind spot for the dual-dialect oracle — so check the frontier
    // against the literal dominance definition over all pairs
    val pts = graft.Tables.orders(spark, sf001)
      .selectExpr(
        "CAST(FLOOR(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT) AS pc",
        "unix_seconds(CAST(o_orderdate AS TIMESTAMP)) DIV 86400 AS ed")
      .collect().map(r => (r.getAs[Long]("pc"), r.getAs[Long]("ed"))).toSet
    val expected = pts.filter { case (p, d) =>
      !pts.exists { case (p2, d2) =>
        p2 <= p && d2 >= d && (p2 < p || d2 > d) }
    }
    val actual = run("q_skyline_orders").collect()
      .map(r => (r.getAs[Long]("price_cents"), r.getAs[Long]("epoch_day"))).toSet
    assert(actual === expected)
    assert(actual.nonEmpty)
  }

  test("cusum drift matches the textbook recursion on a level-shifted series") {
    // the real events table is volume-stable, so the oracle rows are
    // all-zero and never exercise the positive-excursion or alarm
    // paths — this drives the SAME SQL over a synthetic series with a
    // planted level shift and checks it against the literal
    // S_d = max(0, S_{d-1} + x_d) recursion computed in plain Scala
    import java.sql.Timestamp
    val series: Map[String, Seq[Long]] = Map(
      "shifted" -> ((1 to 20).map(_ => 10L) ++ (1 to 10).map(_ => 20L)),
      "stable" -> (1 to 30).map(i => 10L + (i % 3)) // jitter, no shift
    )
    val rows = for {
      (tp, counts) <- series.toSeq
      (c, day) <- counts.zipWithIndex
      i <- 0L until c
    } yield (new Timestamp((day * 86400L + i) * 1000L), tp)
    import spark.implicits._
    rows.toDF("ts", "event_type").createOrReplaceTempView("events")
    val actual = spark.sql(SqlOps.cusumDrift(SparkDialect)).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("n_alarm_days"),
          r.getAs[Double]("peak_dev")))).toMap
    val expected = series.map { case (tp, counts) =>
      val dd = counts.size
      val t = counts.sum
      var s = 0L
      var alarms = 0L
      var peak = 0L
      counts.foreach { c =>
        s = math.max(0L, s + (4 * c * dd - 5 * t))
        if (s > 8 * t) alarms += 1
        peak = math.max(peak, s)
      }
      tp -> ((dd.toLong, alarms,
        math.floor(peak / (4.0 * dd) * 1e6 + 0.5) / 1e6))
    }
    assert(actual === expected)
    // the shift must actually fire the detector, and the stable series must not
    assert(expected("shifted")._2 > 0)
    assert(expected("stable")._2 === 0L)
  }

  test("vocab coverage matches an independent Scala reimplementation") {
    val docs = graft.Tables.documents(spark, sf001)
      .selectExpr("text").collect().map(_.getString(0))
    val counts = docs.flatMap(_.split(" ", -1)).groupBy(identity)
      .map { case (t, occ) => (t, occ.length.toLong) }
    val total = counts.values.sum
    var cum = 0L
    val expected = counts.toSeq.sortBy { case (t, n) => (-n, t) }.map { case (t, n) =>
      cum += n
      (t, (n, cum, cum.toDouble / total, (cum - n) * 100 < 95 * total))
    }.toMap
    val actual = run("q_vocab_coverage").collect().map { r =>
      (r.getAs[String]("token"),
        (r.getAs[Long]("n"), r.getAs[Long]("cum_n"),
          r.getAs[Double]("cum_share"), r.getAs[Boolean]("in_vocab95")))
    }.toMap
    assert(actual === expected)
  }

  test("duplicated-span profile matches an independent Scala reimplementation") {
    // the body SQL is dialect-shared (same string in both engines), so
    // the oracle gate is structurally blind to a bug in the run-length
    // logic — rebuild windows, cross-doc df, and gaps-and-islands runs
    // in plain Scala from the raw table
    val docs = graft.Tables.documents(spark, sf001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val winByDoc = docs.map { case (id, t) =>
      (id, t.split(" ", -1).sliding(8).filter(_.length == 8).map(_.mkString(" ")).toArray)
    }
    val docsPerWin = winByDoc
      .flatMap { case (id, ws) => ws.distinct.map(w => (w, id)) }
      .groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).distinct.length) }
    val expected = winByDoc.filter(_._2.nonEmpty).map { case (id, ws) =>
      val dup = ws.map(w => docsPerWin(w) >= 2)
      var run = 0; var maxRun = 0
      dup.foreach { d => if (d) { run += 1; maxRun = math.max(maxRun, run) } else run = 0 }
      (id, (ws.length.toLong, dup.count(identity).toLong, maxRun.toLong,
        if (maxRun >= 8) 1 else 0))
    }.toMap
    val actual = run("q_dedup_substring").collect().map { r =>
      (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Long]("max_dup_run"), r.getAs[Int]("flag_substr")))
    }.toMap
    assert(actual === expected)
  }

  test("unigram surprisal matches an independent Scala reimplementation") {
    // same oracle-blindness class: the floor-log2 bit arithmetic is a
    // shared SQL string — recompute ⌊log2⌋ code lengths from scratch
    def bits(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val docs = graft.Tables.documents(spark, sf001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").split(" ", -1)))
    val counts = docs.flatMap(_._2).groupBy(identity).map { case (t, o) => (t, o.length.toLong) }
    val n = counts.values.sum
    val expected = docs.map { case (id, toks) =>
      val total = toks.map(t => (bits(n) - bits(counts(t))).toLong).sum
      (id, (toks.length.toLong, total, total.toDouble / toks.length))
    }.toMap
    val actual = run("q_text_unigram_lm").collect().map { r =>
      (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits"),
          r.getAs[Double]("mean_bits")))
    }.toMap
    assert(actual === expected)
  }

  test("IVF multi-probe never returns a worse neighbor than single-probe") {
    def byRank(q: String) = run(q).collect()
      .map(r => ((r.getAs[Long]("query_id"), r.getAs[Number]("rk").longValue),
        r.getAs[Double]("cosine"))).toMap
    val p1 = byRank("q_ann_ivf")
    val p2 = byRank("q_ann_ivf_probe2")
    // probing a superset of cells can only improve (or tie) the
    // candidate pool, so at every (query, rank) the probe-2 cosine
    // must be >= the single-probe cosine
    p1.foreach { case (key, c1) =>
      val c2 = p2.getOrElse(key, Double.MinValue)
      assert(c2 >= c1, s"probe2 worse at $key: $c2 < $c1")
    }
  }

  test("temperature mixture allocates exactly the budget, flatter than raw mass") {
    val rows = run("q_mix_temperature").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("mass"), r.getAs[Long]("n_alloc")))
    assert(rows.map(_._3).sum === 1000L, "largest-remainder must hit the budget exactly")
    // tempering: the max/min allocation ratio must not exceed the
    // max/min mass ratio (√ flattens the head)
    val (mx, mn) = (rows.maxBy(_._2), rows.minBy(_._2))
    assert(mx._3.toDouble / mn._3 <= mx._2.toDouble / mn._2 + 1e-9)
  }

  test("pagerank step matches an independent Scala reimplementation") {
    // rebuild the one damped power step from the SAME candidate pairs
    // (q_dedup_minhash) with plain Scala integer arithmetic
    val cand = run("q_dedup_minhash").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val edges = cand.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (n, es) => (n, es.length.toLong) }
    val contrib = edges.groupBy(_._2).map { case (dst, es) =>
      (dst, es.map { case (src, _) => math.floor(1.0e6 / deg(src)).toLong }.sum)
    }
    val expected = contrib.map { case (id, s) =>
      (id, (deg(id), 150000L + math.floor((85L * s).toDouble / 1.0e2).toLong))
    }
    val actual = run("q_pagerank_step").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("degree"), r.getAs[Long]("rank_ppm")))).toMap
    assert(actual === expected)
  }

  test("prefix-filtered similarity join equals brute-force jaccard over all pairs") {
    // ground truth: ALL-pairs exact jaccard >= 0.6 over the same
    // uncapped distinct 5-gram sets, in plain Scala — proves the
    // prefix gate (and its length filter) recall-lossless end to end
    // (2k docs -> 2M pairs is affordable at sf0.001)
    val docs = graft.Tables.documents(spark, sf001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val corpus = docs.map { case (id, t) => (2 * id, t) } ++
      docs.map { case (id, t) => (2 * id + 1, t) }
    val sets = corpus.map { case (id, t) =>
      (id, t.split(" ", -1).sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet)
    }
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val expected = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (ia, sa) = sets(i); (ib, sb) = sets(j)
      inter = sa.intersect(sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= 0.6
    } yield {
      val (a, b) = if (ia < ib) (ia, ib) else (ib, ia)
      ((a, b), q6(jac))
    }).toMap
    val actual = run("q_dedup_prefix").collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(actual === expected)
  }

  test("pagerank 3-step iteration matches an independent Scala power iteration") {
    val cand = run("q_dedup_minhash").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val edges = cand.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (n, es) => (n, es.length.toLong) }
    var rank: Map[Long, Long] = deg.map { case (n, _) => (n, 1000000L) }
    (1 to 3).foreach { _ =>
      val s = edges.groupBy(_._2).map { case (dst, es) =>
        (dst, es.map { case (src, _) =>
          math.floor(rank(src).toDouble / deg(src)).toLong }.sum)
      }
      rank = s.map { case (id, sum) =>
        (id, 150000L + math.floor((85L * sum).toDouble / 1.0e2).toLong)
      }
    }
    val actual = run("q_pagerank_iter").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank_ppm"))).toMap
    assert(actual === rank)
  }

  test("Graph.pagerank rejects iters past its lazy-depth bound") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(Graph.pagerank(pairs, 10).count() === 3)
    intercept[IllegalArgumentException](Graph.pagerank(pairs, 11))
  }

  test("whitened embeddings: 64 tagged codes per vector, near-zero per-dim mean") {
    val rows = run("q_embedding_whiten").collect()
    assert(rows.nonEmpty)
    val parsed = rows.map { r =>
      val codes = r.getAs[String]("whitened").split(",", -1).map { tok =>
        val Array(pos, z) = tok.split(":", 2)
        (pos.toInt, z.toLong)
      }
      assert(codes.length === r.getAs[Long]("n_dims"))
      assert(codes.map(_._1).toSeq === codes.map(_._1).sorted.toSeq, "position-ordered")
      codes
    }
    // standardization: per-dimension mean of z is 0 up to quantization
    // noise (each code is within 0.5e-6 of the true z, true mean is 0
    // up to the integer-mean rounding — allow a loose 1e-2 bound)
    val byPos = parsed.flatten.groupBy(_._1)
    byPos.values.foreach { zs =>
      val mean = zs.map(_._2).sum.toDouble / zs.length / 1.0e6
      assert(math.abs(mean) < 1e-2, s"per-dim z mean $mean not ~0")
    }
  }

  test("common-ngram fraction is identical for the two snapshot copies of a doc") {
    // snapshot copies (2d, 2d+1) carry the same text → same shingle
    // set → identical df profile; fractions live in [0,1]
    val rows = run("q_dedup_common_ngrams").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_common"),
          r.getAs[Double]("common_frac")))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (_, (n, c, f)) =>
      assert(c >= 0 && c <= n && f >= 0.0 && f <= 1.0)
    }
    rows.keys.filter(_ % 2 == 0).foreach { even =>
      assert(rows.get(even + 1).contains(rows(even)),
        s"snapshot copies of doc ${even / 2} disagree")
    }
  }

  test("ann recall eval agrees with a cross-check of the two ranking queries") {
    val exact = run("q_knn_bruteforce").collect()
      .filter(_.getAs[Int]("rk") <= 3)
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => (q, rs.map(_.getAs[Long]("neighbor_id")).toSet) }
    val lsh = run("q_ann_sign_lsh").collect()
      .filter(r => r.getAs[Long]("query_id") < 5 && r.getAs[Int]("rk") <= 3)
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => (q, rs.map(_.getAs[Long]("neighbor_id")).toSet) }
    val rows = run("q_ann_eval").collect()
    val actual = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hit"))).toMap
    assert(actual.keySet === exact.keySet)
    actual.foreach { case (q, nHit) =>
      val expected = exact(q).intersect(lsh.getOrElse(q, Set.empty)).size.toLong
      assert(nHit === expected, s"query $q: eval says $nHit, cross-check says $expected")
    }
    // the 8-band union retrieval dominates the single band (its
    // candidate set is a superset) and must be NON-degenerate at
    // fixture scale — the single-band recall is honestly 0 here (a
    // 1/256 bucket almost never holds a global top-3 neighbor), and a
    // readout whose every metric column is 0 at every SF proves
    // nothing (the q_ab_test vacuity lesson)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hit_union") >= r.getAs[Long]("n_hit"),
        s"union retrieval lost a single-band hit for query ${r.getAs[Long]("query_id")}")
    }
    assert(rows.map(_.getAs[Long]("n_hit_union")).sum > 0,
      "the 8-band union recall must have a positive path at fixture scale")
  }

  test("cluster size histogram accounts for every clustered doc") {
    val hist = run("q_dedup_cluster_sizes").collect()
      .map(r => (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_clusters")))
    val clustered = run("q_dedup_cluster").count()
    assert(hist.map { case (sz, n) => sz * n }.sum === clustered)
    // a cluster is born from at least one pair
    assert(hist.forall(_._1 >= 2))
  }

  test("length histogram partitions the corpus with exact power-of-two bounds") {
    val rows = run("q_length_histogram").collect()
    val total = graft.Tables.documents(spark, sf001)
      .selectExpr("size(split(text, ' ')) AS n").where("n > 0").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(r.getAs[Int]("min_tokens") >= (1L << b))
      assert(r.getAs[Int]("max_tokens") < (1L << (b + 1)))
    }
    assert(math.abs(rows.map(_.getAs[Double]("frac_docs")).sum - 1.0) < 1e-9)
  }

  test("skew profile accounts for every order row") {
    val rows = run("q_skew_profile").collect()
    val total = graft.Tables.orders(spark, sf001).count()
    assert(rows.map(r => r.getAs[Long]("n_rows")).sum === total)
    assert(math.abs(rows.map(_.getAs[Double]("frac_rows")).sum - 1.0) < 1e-9)
  }

  test("promo revenue: promo share consistent with its components") {
    val r = run("q_promo_revenue").collect().head
    val (promo, total, pct) = (r.getAs[Double]("promo_revenue"),
      r.getAs[Double]("total_revenue"), r.getAs[Double]("promo_pct"))
    assert(promo > 0 && promo < total)
    assert(pct === 100.0 * promo / total)
  }

  test("top supplier holds the maximum quarterly revenue") {
    val winners = run("q_top_supplier").collect()
    assert(winners.nonEmpty)
    val top = winners.map(_.getAs[Double]("total_revenue")).distinct
    assert(top.length === 1) // all tied winners report the same max
  }

  test("bigram surprisal matches an independent Scala reimplementation") {
    def bits(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val docs = graft.Tables.documents(spark, sf001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").split(" ", -1)))
    val uniCounts = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, o) => (t, o.length.toLong) }
    val allBigrams = docs.flatMap(_._2.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq)
    val biCounts = allBigrams.groupBy(identity).map { case (b, o) => (b, o.length.toLong) }
    val expected = docs.collect { case (id, toks) if toks.length >= 2 =>
      val bgs = toks.sliding(2).map(_.toSeq).toSeq
      val total = bgs.map { bg =>
        (bits(uniCounts(bg.head)) - bits(biCounts(bg.mkString(" ")))).toLong
      }.sum
      (id, (bgs.length.toLong, total, total.toDouble / bgs.length))
    }.toMap
    val actual = run("q_text_bigram_lm").collect().map { r =>
      (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("total_bits"),
          r.getAs[Double]("mean_bits")))
    }.toMap
    assert(actual === expected)
  }

  test("pareto cutoff matches an independent full-sort reimplementation") {
    val r = run("q_pareto_customers").collect().head
    // independent path: global sort + cumsum, no histogram shortcut
    val cents = graft.Tables.orders(spark, sf001)
      .groupBy(org.apache.spark.sql.functions.col("o_custkey"))
      .agg(org.apache.spark.sql.functions.expr(
        "CAST(SUM(CAST(FLOOR(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT)) AS BIGINT)").as("c"))
      .collect().map(x => (x.getAs[Long]("o_custkey"), x.getAs[Long]("c")))
    val sorted = cents.sortBy { case (ck, c) => (-c, ck) }
    val total = sorted.map(_._2).sum
    var cum = 0L
    val nTop = sorted.segmentLength { case (_, c) =>
      val before = cum; cum += c; before * 5 < total * 4
    }
    assert(r.getAs[Long]("n_customers") === sorted.length)
    assert(r.getAs[Long]("n_top80") === nTop)
  }

  test("attribution matches an independent per-user sweep") {
    val got = run("q_attribution").collect()
      .map(r => (r.getAs[Long]("purchase_id"),
        (r.getAs[Long]("touch_us"), r.getAs[Long]("delay_s")))).toMap
    val evs = graft.Tables.events(spark, sf001)
      .selectExpr("event_id", "user_id", "event_type", "unix_seconds(ts) AS us")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("us"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
    val want = evs.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3))
      sorted.zipWithIndex.flatMap { case ((_, us, id, typ), i) =>
        if (typ != "purchase") Nil
        else sorted.take(i).filter(e => e._4 == "view" || e._4 == "click")
          .map(_._2).maxOption.filter(t => us - t <= 3600)
          .map(t => id -> (t, us - t)).toList
      }
    }.toMap
    assert(got === want)
  }

  test("zipf slope is negative over the expected term count") {
    val r = run("q_zipf_fit").collect().head
    val vocab = graft.Tables.documents(spark, sf001)
      .selectExpr("explode(split(text, ' ')) AS t").distinct().count()
    assert(r.getAs[Long]("n_terms") === math.min(64L, vocab))
    assert(r.getAs[Double]("zipf_slope") < 0.0)
  }

  test("readability reproduces the Flesch formula on exact counts") {
    val rows = run("q_text_readability").collect()
    assert(rows.nonEmpty)
    rows.take(50).foreach { r =>
      val (w, s, sy) = (r.getAs[Int]("n_words"), r.getAs[Int]("n_sentences"),
        r.getAs[Int]("n_syllables"))
      assert(s >= 1)
      val expect = 206.835 - 1.015 * (w.toDouble / s) - 84.6 * (sy.toDouble / w)
      assert(math.abs(r.getAs[Double]("flesch") - expect) < 1e-5)
    }
  }

  test("incremental aggregate merge covers every order exactly once") {
    val rows = run("q_agg_incremental").collect()
    val total = graft.Tables.orders(spark, sf001).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum === total)
  }

  test("corpus split partitions every doc with roughly 80/10/10 mass") {
    val rows = run("q_corpus_split").collect()
    val total = graft.Tables.documents(spark, sf001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    // generous bounds at tiny sf: the hash is uniform, not exact
    assert(bySplit("train") > total / 2)
    assert(bySplit("train") + bySplit("val") + bySplit("test") === total)
  }

  test("fuzzy join links every incoming doc to its canonical twin") {
    val rows = run("q_fuzzy_join").collect()
    val nDocs = graft.Tables.documents(spark, sf001).count()
    val byIncoming = rows.map(r => r.getAs[Long]("incoming_id") ->
      r.getAs[Long]("matched_id")).toMap
    // snapshot copies: incoming 2d+1 must link to canonical 2d (all
    // bands collide on identical text; MIN picks the true twin unless
    // an even-smaller identical doc exists, which still has equal text)
    (0L until nDocs).foreach { d =>
      val m = byIncoming.get(2 * d + 1)
      assert(m.isDefined, s"incoming ${2 * d + 1} unmatched")
      assert(m.get % 2 === 0 && m.get <= 2 * d, s"bad canonical for ${2 * d + 1}")
    }
    rows.foreach(r => assert(r.getAs[Long]("n_candidates") >= 1))
  }

  test("chi-square statistic matches an independent Scala contingency computation") {
    val r = run("q_chi_square").collect().head
    val evs = graft.Tables.events(spark, sf001)
      .selectExpr("event_type", "CAST(FLOOR(unix_seconds(ts) / 86400.0) AS BIGINT) % 7 AS dow")
      .collect().map(x => (x.getAs[String]("event_type"), x.getAs[Long]("dow")))
    val obs = evs.groupBy(identity).view.mapValues(_.length.toDouble).toMap
    val rt = evs.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val ct = evs.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val n = evs.length.toDouble
    val chi2 = obs.map { case ((t, d), o) =>
      val e = rt(t) * ct(d) / n
      math.floor((o - e) * (o - e) / e * 1e6 + 0.5)
    }.sum / 1e6
    assert(r.getAs[Long]("n_types") === rt.size)
    assert(r.getAs[Long]("n_dows") === ct.size)
    assert(math.abs(r.getAs[Double]("chi2") - math.floor(chi2 * 1e6 + 0.5) / 1e6) < 1e-6)
  }

  test("containment scores planted duplicates at 1.0") {
    val rows = run("q_dedup_containment").collect()
    val planted = rows.filter { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      b - a == 1L && a % 2 == 0 // snapshot copies: (2d, 2d+1)
    }
    assert(planted.nonEmpty)
    assert(planted.forall(_.getAs[Double]("containment") == 1.0))
  }

  test("triangle count matches an independent Scala enumeration") {
    val r = run("q_graph_triangles").collect().head
    val edges = run("q_dedup_minhash").collect()
      .map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"))).toSet
    assert(r.getAs[Long]("n_edges") === edges.size)
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val want = edges.toSeq.map { case (a, b) =>
      adj.getOrElse(b, Set.empty).count(c => edges.contains((a, c)))
    }.sum
    assert(r.getAs[Long]("n_triangles") === want)
  }

  test("MAD outliers: medians inside range, outliers a strict minority") {
    val rows = run("q_anomaly_mad").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("mad_value") >= 0.0)
      val (out, n) = (r.getAs[Long]("n_outliers"), r.getAs[Long]("n"))
      // by definition of the median, > half the points sit within 5 MAD
      assert(out < n / 2)
    }
  }

  test("hopping windows count every event exactly size/hop times") {
    val rows = run("q_events_hopping").collect()
    val total = graft.Tables.events(spark, sf001).count()
    // 10-minute windows every 5 minutes → each event in exactly 2
    assert(rows.map(_.getAs[Long]("n_events")).sum === 2 * total)
    assert(rows.forall(_.getAs[Long]("window_start") % 300 === 0))
  }

  test("interval coverage matches an independent Scala interval-union") {
    val got = run("q_intervals_coverage").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("covered_seconds"), r.getAs[Long]("n_intervals"))).toMap
    // independent reimplementation: sort per user, sweep, merge overlaps
    val evs = graft.Tables.events(spark, sf001)
      .selectExpr("user_id", "unix_seconds(ts) AS s",
        "unix_seconds(ts) + abs(CAST(FLOOR(value) AS BIGINT)) % 120 + 60 AS e")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("s"), r.getAs[Long]("e")))
    val want = evs.groupBy(_._1).map { case (u, ivs) =>
      val sorted = ivs.map(t => (t._2, t._3)).sortBy(identity)
      val merged = sorted.foldLeft(List.empty[(Long, Long)]) {
        case (Nil, iv) => List(iv)
        case ((cs, ce) :: rest, (s, e)) =>
          if (s <= ce) (cs, math.max(ce, e)) :: rest else (s, e) :: (cs, ce) :: rest
      }
      u -> (merged.map { case (s, e) => e - s }.sum, merged.size.toLong)
    }
    assert(got === want)
  }

  test("cdc apply: deletes gone, updates doubled, inserts untouched") {
    val rows = run("q_cdc_apply").collect()
    val orders = graft.Tables.orders(spark, sf001)
      .selectExpr("o_orderkey", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS p")
      .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Double]("p")).toMap
    assert(rows.length === orders.keys.count(_ % 5 != 0))
    rows.foreach { r =>
      val k = r.getAs[Long]("key")
      assert(k % 5 !== 0) // deleted keys must not survive
      if (k % 3 == 0) {
        assert(r.getAs[Int]("last_seq") === 2)
        assert(r.getAs[Double]("val") === orders(k) * 2)
      } else {
        assert(r.getAs[Int]("last_seq") === 1)
        assert(r.getAs[Double]("val") === orders(k))
      }
    }
  }

  test("snapshot diff classes partition the union of both snapshots") {
    val byStatus = run("q_snapshot_diff").collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_docs")).toMap
    val ids = graft.Tables.documents(spark, sf001)
      .select("doc_id").collect().map(_.getLong(0))
    val inOld = ids.filter(_ % 7 != 0).toSet
    val inNew = ids.filter(_ % 5 != 0).toSet
    assert(byStatus("added") === (inNew -- inOld).size)
    assert(byStatus("removed") === (inOld -- inNew).size)
    // changed = in both with perturbed text (doc_id % 3 == 0)
    assert(byStatus("changed") === (inOld & inNew).count(_ % 3 == 0))
    assert(byStatus.values.sum === (inOld | inNew).size)
  }

  test("association rules match an independent Scala basket sweep") {
    // rebuild supports with plain Scala collections from the raw
    // tables — independent of the shared-SQL rendering on both engines
    val part = graft.Tables.part(spark, sf001)
      .selectExpr("p_partkey", "p_brand").collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("p_brand")).toMap
    val baskets = graft.Tables.lineitem(spark, sf001)
      .selectExpr("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), part(r.getAs[Long]("l_partkey"))))
      .distinct
    val nBaskets = baskets.map(_._1).distinct.length
    val isup = baskets.groupBy(_._2).map { case (i, bs) => (i, bs.length.toLong) }
    val frequent = isup.filter(_._2 >= 40).keySet
    val byBasket = baskets.filter(b => frequent(b._2)).groupBy(_._1)
    val pairSup = byBasket.values.flatMap { items =>
      val is = items.map(_._2).sorted
      for (i <- is.indices; j <- (i + 1) until is.length) yield (is(i), is(j))
    }.groupBy(identity).map { case (p, os) => (p, os.size.toLong) }
      .filter(_._2 >= 10)
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val expected = pairSup.flatMap { case ((a, b), sab) =>
      Seq((a, b, sab), (b, a, sab)).map { case (x, y, s) =>
        ((x, y), (s, q6(s.toDouble / isup(x)),
          q6(s.toDouble * nBaskets / (isup(x).toDouble * isup(y)))))
      }
    }
    val actual = run("q_assoc_rules").collect()
      .map(r => ((r.getAs[String]("antecedent"), r.getAs[String]("consequent")),
        (r.getAs[Long]("supp_ab"), r.getAs[Double]("confidence"),
          r.getAs[Double]("lift")))).toMap
    assert(actual === expected)
    // lift symmetry: rule a→b and b→a carry the same lift
    actual.foreach { case ((a, b), (_, _, l)) => assert(actual((b, a))._3 === l) }
  }

  test("k-anonymity audit flags exactly the below-threshold groups") {
    val cust = graft.Tables.customer(spark, sf001)
      .selectExpr("c_nationkey", "c_mktsegment").collect()
      .map(r => (r.getAs[Long]("c_nationkey"), r.getAs[String]("c_mktsegment")))
    val expected = cust.groupBy(identity).map { case (g, rs) =>
      (g, (rs.length.toLong, if (rs.length < 5) 1 else 0))
    }
    val actual = run("q_k_anonymity").collect().map(r =>
      ((r.getAs[Long]("c_nationkey"), r.getAs[String]("c_mktsegment")),
        (r.getAs[Long]("group_size"), r.getAs[Number]("at_risk").intValue))).toMap
    assert(actual === expected)
    // the small fixture genuinely contains re-identifiable groups
    assert(actual.values.exists(_._2 == 1), "expected at-risk groups at sf0.001")
    assert(actual.values.map(_._1).sum === cust.length.toLong)
  }

  test("lateral top-1 matches an independent Scala best-order sweep") {
    val orders = graft.Tables.orders(spark, sf001)
      .selectExpr("o_custkey", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("o_orderkey"),
        math.floor(r.getAs[Double]("o_totalprice") * 100 + 0.5).toLong))
    val expected = orders.groupBy(_._1).toSeq.map { case (ck, os) =>
      val best = os.minBy(o => (-o._3, o._2))
      (ck, (best._2, best._3))
    }.toMap
    val actual = run("q_lateral_latest").collect().map(r =>
      (r.getAs[Long]("c_custkey"),
        (r.getAs[Long]("best_orderkey"), r.getAs[Long]("best_cents")))).toMap
    assert(actual === expected)
    // only customers with orders appear (inner lateral semantics)
    assert(actual.keySet === orders.map(_._1).toSet)
  }

  test("ab test matches an independent Scala two-proportion computation") {
    val ev = graft.Tables.events(spark, sf001)
      .selectExpr("user_id", "event_type", "value").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Double]("value")))
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    // conversion = a LARGE purchase (value > 150), the shared
    // twoPropCtes rule — "ever purchased" saturates at 100%
    val byUser = ev.groupBy(_._1).toSeq.map { case (u, rows) =>
      (u % 2, rows.exists(r => r._2 == "purchase" && r._3 > 150))
    }
    def arm(a: Long) = {
      val rows = byUser.filter(_._1 == a)
      (rows.size.toLong, rows.count(_._2).toLong)
    }
    val ((n0, c0), (n1, c1)) = (arm(0), arm(1))
    val (p0, p1) = (c0.toDouble / n0, c1.toDouble / n1)
    val pp = (c0 + c1).toDouble / (n0 + n1)
    val se = math.sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))
    val r = run("q_ab_test").collect().head
    assert(r.getAs[Long]("n0") === n0 && r.getAs[Long]("c0") === c0)
    assert(r.getAs[Long]("n1") === n1 && r.getAs[Long]("c1") === c1)
    assert(r.getAs[Double]("rate_a") === q6(p0))
    assert(r.getAs[Double]("rate_b") === q6(p1))
    if (se == 0.0) assert(r.isNullAt(r.fieldIndex("z_score")))
    else assert(r.getAs[Double]("z_score") === q6((p0 - p1) / se))
  }

  test("order cycle time matches an independent Scala span sweep") {
    val li = graft.Tables.lineitem(spark, sf001)
      .selectExpr("l_orderkey", "unix_seconds(CAST(l_shipdate AS TIMESTAMP)) AS s")
      .collect().map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("s")))
    val pri = graft.Tables.orders(spark, sf001)
      .selectExpr("o_orderkey", "o_orderpriority").collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[String]("o_orderpriority"))).toMap
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val spans = li.groupBy(_._1).toSeq.map { case (ok, rows) =>
      (pri(ok), (rows.map(_._2).max - rows.map(_._2).min) / 86400)
    }
    val expected = spans.groupBy(_._1).map { case (p, rs) =>
      val v = rs.map(_._2)
      (p, (v.size.toLong, v.max, q6(v.sum.toDouble / v.size)))
    }
    val actual = run("q_order_cycle_time").collect().map(r =>
      (r.getAs[String]("o_orderpriority"), (r.getAs[Long]("n_orders"),
        r.getAs[Long]("max_span_days"), r.getAs[Double]("mean_span_days")))).toMap
    assert(actual === expected)
    assert(actual.values.exists(_._2 > 0L), "multi-line orders should span days")
  }

  test("disorder profile matches an independent Scala arrival replay") {
    val ev = graft.Tables.events(spark, sf001)
      .selectExpr("user_id", "event_type", "event_id",
        "unix_seconds(CAST(ts AS TIMESTAMP)) AS s").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("event_id"), r.getAs[Long]("s")))
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val deltas = ev.groupBy(_._1).values.flatMap { rows =>
      var mx = Long.MinValue
      rows.sortBy(_._3).map { case (_, tpe, _, s) =>
        mx = math.max(mx, s)
        (tpe, mx - s)
      }
    }.toSeq
    val expected = deltas.groupBy(_._1).map { case (tpe, ds) =>
      val v = ds.map(_._2)
      (tpe, (v.size.toLong, v.count(_ > 0L).toLong, v.max,
        q6(v.sum.toDouble / v.size)))
    }
    val actual = run("q_disorder_profile").collect().map(r =>
      (r.getAs[String]("event_type"), (r.getAs[Long]("n"),
        r.getAs[Long]("n_late"), r.getAs[Long]("max_delta_s"),
        r.getAs[Double]("mean_delta_s")))).toMap
    assert(actual === expected)
    // the fixture stream is perfectly ordered (event_id IS ts order),
    // so the late path never fires on it — cover it on planted
    // disorder instead, driving the SAME rendered Spark SQL
    import spark.implicits._
    Seq(
      (1L, "view", 1L, 100L), (1L, "view", 2L, 90L), // 10s late
      (1L, "click", 3L, 130L), (2L, "view", 4L, 50L),
      (2L, "click", 5L, 45L), (2L, "click", 6L, 60L) // 5s late
    ).toDF("user_id", "event_type", "event_id", "s")
      .selectExpr("user_id", "event_type", "event_id",
        "timestamp_seconds(s) AS ts")
      .createOrReplaceTempView("events")
    try {
      val planted = spark.sql(graft.ops.SqlOps.disorderProfile(graft.ops.SparkDialect))
        .collect().map(r => (r.getAs[String]("event_type"),
          (r.getAs[Long]("n"), r.getAs[Long]("n_late"),
            r.getAs[Long]("max_delta_s"), r.getAs[Double]("mean_delta_s"))))
        .toMap
      assert(planted("view") === ((3L, 1L, 10L, q6(10.0 / 3))))
      assert(planted("click") === ((3L, 1L, 5L, q6(5.0 / 3))))
    } finally spark.catalog.dropTempView("events")
  }

  test("scd2 as-of reads select the version valid at each timestamp") {
    val scd = run("q_merge_scd2").collect().map(r =>
      (r.getAs[String]("link"), r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Long]("price_rp")))
    def asOf(ts: Long) = scd.collect {
      case (link, from, to, price) if from <= ts && to.forall(_ > ts) => (link, price)
    }.toMap
    val actual = run("q_scd2_asof").collect().map(r =>
      ((r.getAs[Long]("asof_ts"), r.getAs[String]("link")), r.getAs[Long]("price_rp")))
      .toMap
    Seq(50L, 100L).foreach { ts =>
      val exp = asOf(ts)
      val got = actual.collect { case ((t, l), p) if t == ts => (l, p) }
      assert(got === exp, s"as-of $ts mismatch")
    }
    // at most one version per key at any timestamp; at ts=100 (after
    // the batch) every key has exactly one open version, while keys
    // first inserted by the batch are invisible at ts=50
    val at100 = actual.keys.collect { case (100L, l) => l }.toSeq
    assert(at100.distinct.size === at100.size)
    assert(at100.size === scd.map(_._1).distinct.length)
    val at50 = actual.keys.collect { case (50L, l) => l }.toSeq
    assert(at50.distinct.size === at50.size)
    assert(at50.size < at100.size, "batch-inserted keys must be invisible at ts=50")
    // the changed keys differ in price between the two snapshots
    val changed = actual.collect { case ((50L, l), p)
      if actual.get((100L, l)).exists(_ != p) => l }
    assert(changed.nonEmpty, "fixture should contain changed keys")
  }

  test("negative pairs match an independent Scala hash-ring sweep") {
    val docs = graft.Tables.documents(spark, sf001)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    def bkt(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.take(2), 16)
    }
    val byBkt = docs.map { case (id, t) => (id, bkt(t)) }
    val rep = byBkt.groupBy(_._2).map { case (b, ds) => (b, ds.map(_._1).min) }
    val expected = byBkt.flatMap { case (id, b) =>
      Seq(1, 2).flatMap(j => rep.get((b + 64 * j) % 256).map(r => (id, j.toLong, r)))
    }.toSet
    val actual = run("q_negative_pairs").collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("neg_rank"), r.getAs[Long]("neg_id")))
      .toSet
    assert(actual === expected)
    // a doc is never its own negative
    actual.foreach { case (id, _, neg) => assert(id !== neg) }
  }

  test("gap fill covers the full day spine with correct gap ages") {
    val rows = run("q_gap_fill").collect().map(r =>
      (r.getAs[Long]("day"), r.getAs[Long]("n_orders"), r.getAs[Long]("cents"),
        r.getAs[Long]("days_since_activity"))).sortBy(_._1)
    // spine is contiguous min..max
    assert(rows.map(_._1).toSeq === (rows.head._1 to rows.last._1))
    // zero-filled days carry no revenue; active days carry some
    rows.foreach { case (_, n, cents, _) =>
      if (n == 0L) assert(cents === 0L) else assert(cents > 0L)
    }
    // gap age: 0 on active days, previous age + 1 on silent days
    rows.sliding(2).foreach {
      case Array((_, _, _, a0), (_, n1, _, a1)) =>
        if (n1 > 0L) assert(a1 === 0L) else assert(a1 === a0 + 1)
      case _ =>
    }
    assert(rows.exists(_._2 == 0L), "fixture should contain silent days")
  }

  test("time-to-convert matches an independent Scala event scan") {
    val ev = graft.Tables.events(spark, sf001)
      .selectExpr("user_id", "event_type", "unix_seconds(CAST(ts AS TIMESTAMP)) AS s")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("s")))
    val expected = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val s0 = rows.filter(_._2 == "signup").map(_._3).minOption
      val p0 = rows.filter(_._2 == "purchase").map(_._3).minOption
      (s0, p0) match {
        case (Some(s), Some(p)) if p >= s => Some((u, p - s))
        case _ => None
      }
    }
    val actual = run("q_time_to_convert").collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("latency_s"))).toMap
    assert(actual === expected)
  }

  test("dq audit fires the planted rules and clears the integrity rules") {
    val rows = run("q_dq_audit").collect().map(r =>
      (r.getAs[String]("rule"), (r.getAs[Long]("n_violations"),
        r.getAs[Long]("n_checked")))).toMap
    assert(rows.size === 8)
    // TPC-H-ish generators guarantee integrity holds...
    Seq("orders_orphan_custkey", "lineitem_orphan_orderkey",
      "orders_nonpositive_total", "orders_null_custkey",
      "lineitem_null_orderkey", "lineitem_tax_out_of_range")
      .foreach(rule => assert(rows(rule)._1 === 0L, rule))
    // ...while the range rules genuinely fire on this data
    assert(rows("lineitem_qty_gt_45")._1 > 0L)
    assert(rows("lineitem_discount_gt_5pct")._1 > 0L)
    // every rule checked the full table
    val nLi = graft.Tables.lineitem(spark, sf001).count()
    assert(rows("lineitem_qty_gt_45")._2 === nLi)
    assert(rows("lineitem_orphan_orderkey")._2 === nLi)
  }

  test("label propagation matches an independent Scala sync simulation") {
    val pairs = run("q_dedup_minhash").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val inbound = edges.groupBy(_._2).map { case (n, es) => (n, es.map(_._1)) }
    var lbl: Map[Long, Long] = edges.map(_._1).distinct.map(n => (n, n)).toMap
    (1 to 3).foreach { _ =>
      lbl = inbound.map { case (n, srcs) =>
        val counts = srcs.map(lbl).groupBy(identity)
          .map { case (l, os) => (l, os.size) }
        (n, counts.toSeq.minBy { case (l, c) => (-c, l) }._1)
      }
    }
    val expected = lbl.groupBy(_._2).map { case (community, ms) =>
      (community, (ms.size.toLong, ms.keys.min))
    }
    val actual = run("q_label_prop").collect().map(r =>
      (r.getAs[Long]("community"),
        (r.getAs[Long]("n_members"), r.getAs[Long]("min_member")))).toMap
    assert(actual === expected)
    // conservation: members across communities = node count
    assert(actual.values.map(_._1).sum === lbl.size.toLong)
  }

  test("event paths match an independent Scala sequence count") {
    val ev = graft.Tables.events(spark, sf001)
      .selectExpr("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id")))
    val paths = ev.groupBy(_._1).values.flatMap { rows =>
      val ordered = rows.sortBy(r => (r._3.getTime, r._4)).map(_._2)
      ordered.sliding(3).filter(_.size == 3).map(_.mkString(">"))
    }
    val top = paths.groupBy(identity).map { case (p, os) => (p, os.size.toLong) }
      .toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    val actual = run("q_event_paths").collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("cnt"))).toSeq
    assert(actual === top)
  }

  test("benford profile matches an independent Scala digit count") {
    val cents = graft.Tables.orders(spark, sf001)
      .selectExpr("o_totalprice").collect()
      .map(r => math.floor(r.getAs[Double]("o_totalprice") * 100 + 0.5).toLong)
    val n = cents.length.toLong
    val ppm = Map('1' -> 301030L, '2' -> 176091L, '3' -> 124939L,
      '4' -> 96910L, '5' -> 79181L, '6' -> 66947L, '7' -> 57992L,
      '8' -> 51153L, '9' -> 45757L)
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val expected = cents.groupBy(c => c.toString.head).map { case (dig, cs) =>
      val exp = n.toDouble * ppm(dig) / 1.0e6
      val obs = cs.length.toLong
      (dig.toString, (obs, ppm(dig), q6(exp), q6((obs - exp) * (obs - exp) / exp)))
    }
    val actual = run("q_benford").collect().map(r =>
      (r.getAs[String]("digit"), (r.getAs[Long]("n_obs"),
        r.getAs[Number]("p_ppm").longValue,
        r.getAs[Double]("n_exp"), r.getAs[Double]("chi2_part")))).toMap
    assert(actual === expected)
    // digit coverage: every leading digit of this fixture appears once
    assert(actual.keySet === cents.map(_.toString.take(1)).toSet)
  }

  test("weighted median matches an independent Scala cumulative sweep") {
    val rows = graft.Tables.lineitem(spark, sf001)
      .selectExpr("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getAs[String]("l_returnflag"),
        math.floor(r.getAs[Double]("l_extendedprice") * 100 + 0.5).toLong,
        r.getAs[Double]("l_quantity").toLong))
    val expected = rows.groupBy(_._1).map { case (flag, rs) =>
      val tot = rs.map(_._3).sum
      val sorted = rs.map(r => (r._2, r._3)).groupBy(_._1).toSeq
        .map { case (c, ws) => (c, ws.map(_._2).sum) }.sortBy(_._1)
      var cum = 0L
      val med = sorted.collectFirst {
        case (c, w) if { cum += w; 2 * cum >= tot } => c
      }.get
      (flag, (med, tot))
    }
    val actual = run("q_weighted_median").collect().map(r =>
      (r.getAs[String]("l_returnflag"),
        (r.getAs[Long]("wmedian_cents"), r.getAs[Long]("total_qty")))).toMap
    assert(actual === expected)
  }

  test("2-core peel matches an independent Scala fixpoint and the driver loop") {
    // independent peel: adjacency maps in plain Scala, iterate to the
    // true fixpoint — then require the depth-4 SQL unroll to have
    // reached it (depth covers this corpus) and the driver loop to agree
    val pairs = run("q_dedup_minhash").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    var adj = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).map { case (n, es) => (n, es.map(_._2).toSet) }
    var rounds = 0
    var changed = true
    while (changed) {
      val alive = adj.filter(_._2.size >= 2).keySet
      val next = adj.collect {
        case (n, ns) if alive(n) => (n, ns.intersect(alive))
      }.filter(_._2.nonEmpty)
      changed = next.map { case (n, ns) => (n, ns.size) } !=
        adj.map { case (n, ns) => (n, ns.size) }
      if (changed) rounds += 1
      adj = next
    }
    assert(rounds <= 4, s"fixture needs $rounds peel rounds; raise kcoreIter depth")
    val expected = adj.map { case (n, ns) => (n, ns.size.toLong) }.toMap
    def collect(q: String) = run(q).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("core_deg"))).toMap
    assert(collect("q_kcore") === expected)
    assert(collect("q_kcore_loop") === expected)
  }

  test("4-truss peel reaches the corpus fixpoint within its depth and matches " +
    "an independent Scala peeler") {
    // the kcore rule applied to the edge peel: iterate an independent
    // support peeler to the TRUE fixpoint, require it to get there in
    // <= 3 rounds (q_graph_truss's unroll depth — if the fixture ever
    // needs more, this fails instead of the query silently
    // under-iterating identically in both engines), then require the
    // SQL result row-equal at the fixpoint support counts
    val pairs = run("q_dedup_minhash").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    def support(es: Set[(Long, Long)]): Map[(Long, Long), Int] = {
      val adj = es.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      es.map(e => e -> (adj(e._1) intersect adj(e._2)).size).toMap
    }
    var cur = pairs.toSet
    var rounds = 0
    var changed = true
    while (changed) {
      val keep = support(cur).filter(_._2 >= 2).keySet
      changed = keep != cur
      if (changed) rounds += 1
      cur = keep
    }
    assert(rounds <= 3, s"fixture needs $rounds peel rounds; raise trussIter depth")
    val expected = support(cur).map { case ((a, b), s) => (a, b, s.toLong) }.toSet
    def collect(q: String) = run(q).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("support"))).toSet
    val got = collect("q_graph_truss")
    assert(got === expected)
    assert(got.nonEmpty, "fixture must keep at least one 4-truss community")
    // the loop-until-convergence driver twin must agree exactly
    assert(collect("q_graph_truss_loop") === expected)
  }

  test("item-item cosine neighborhoods match an independent Scala sweep") {
    val part = graft.Tables.part(spark, sf001)
      .selectExpr("p_partkey", "p_brand").collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("p_brand")).toMap
    val baskets = graft.Tables.lineitem(spark, sf001)
      .selectExpr("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), part(r.getAs[Long]("l_partkey"))))
      .distinct
    val isup = baskets.groupBy(_._2).map { case (i, bs) => (i, bs.length.toLong) }
    val frequent = isup.filter(_._2 >= 40).keySet
    val pairSup = baskets.filter(b => frequent(b._2)).groupBy(_._1).values.flatMap { items =>
      val is = items.map(_._2).sorted
      for (i <- is.indices; j <- (i + 1) until is.length) yield (is(i), is(j))
    }.groupBy(identity).map { case (p, os) => (p, os.size.toLong) }
      .filter(_._2 >= 10)
    def q6(x: Double) = math.floor(x * 1.0e6 + 0.5) / 1.0e6
    val sym = pairSup.toSeq.flatMap { case ((a, b), s) => Seq((a, b, s), (b, a, s)) }
    val expected = sym.map { case (a, b, s) =>
      (a, b, s, q6(s.toDouble / math.sqrt((isup(a) * isup(b)).toDouble)))
    }.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._4, r._2)).take(5).zipWithIndex.map { case (r, i) =>
        (r._1, r._2, r._3, r._4, (i + 1).toLong)
      }
    }.toSet
    val actual = run("q_item_similarity").collect().map(r =>
      (r.getAs[String]("item"), r.getAs[String]("neighbor"),
        r.getAs[Long]("supp_ab"), r.getAs[Double]("cosine"),
        r.getAs[Long]("rk"))).toSet
    assert(actual === expected)
    // a neighborhood never exceeds 5 and ranks are 1..n without gaps
    actual.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._5).toSeq.sorted === (1L to rows.size.toLong))
    }
  }

  test("orders profile: one row per column, counts consistent") {
    val rows = run("q_profile_orders").collect()
    assert(rows.length === 6)
    val total = graft.Tables.orders(spark, sf001).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === total)
      assert(r.getAs[Long]("n_null") >= 0)
      assert(r.getAs[Long]("n_distinct") <= total)
      assert(r.getAs[String]("min_val") <= r.getAs[String]("max_val")
        || r.getAs[Long]("n_distinct") <= 1
        // numeric min/max compared as strings may invert lexically
        || Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
             .contains(r.getAs[String]("col")))
    }
  }

  private def q6d(x: Double): Double = math.floor(x * 1.0e6 + 0.5) / 1.0e6

  test("excess suppliers matches an independent Scala threshold sweep") {
    val li = graft.Tables.lineitem(spark, sf001)
      .selectExpr("l_suppkey", "l_partkey", "CAST(l_quantity AS BIGINT) AS q")
      .collect().map(r => (r.getAs[Long]("l_suppkey"), r.getAs[Long]("l_partkey"),
        r.getAs[Long]("q")))
    val pname = graft.Tables.part(spark, sf001)
      .selectExpr("p_partkey", "p_name").collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[String]("p_name"))).toMap
    val supp = graft.Tables.supplier(spark, sf001)
      .selectExpr("s_suppkey", "s_name", "s_nationkey").collect()
      .map(r => (r.getAs[Long]("s_suppkey"),
        (r.getAs[String]("s_name"), r.getAs[Number]("s_nationkey").longValue))).toMap
    val nat = graft.Tables.nation(spark, sf001)
      .selectExpr("n_nationkey", "n_name").collect()
      .map(r => (r.getAs[Number]("n_nationkey").longValue, r.getAs[String]("n_name"))).toMap
    val sp = li.filter { case (_, pk, _) =>
        val n = pname(pk); n.startsWith("small ") || n.startsWith("large ") }
      .groupBy(t => (t._1, t._2)).map { case (k, rs) => (k, rs.map(_._3).sum) }
    val byPart = sp.toSeq.groupBy(_._1._2)
    val excess = byPart.values.flatMap { parts =>
      val tot = parts.map(_._2).sum
      val ns = parts.size.toLong
      parts.filter { case (_, qty) => 2 * qty * ns > 3 * tot }.map(_._1)
    }
    val expected = excess.toSeq.groupBy { case (sk, _) =>
      val (sn, nk) = supp(sk); (sn, nat(nk))
    }.map { case (k, ps) => (k, ps.size.toLong) }
    val actual = run("q_excess_suppliers").collect().map(r =>
      ((r.getAs[String]("s_name"), r.getAs[String]("n_name")),
        r.getAs[Long]("n_excess_parts"))).toMap
    assert(actual === expected)
    assert(actual.nonEmpty, "threshold should fire at sf0.001")
  }

  test("winsorize matches an independent order-statistic computation") {
    val cents = graft.Tables.orders(spark, sf001)
      .selectExpr("CAST(FLOOR(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT) AS c")
      .collect().map(_.getAs[Long]("c")).sorted
    val n = cents.length
    val lo = cents(math.ceil(0.05 * n).toInt - 1)
    val hi = cents(math.ceil(0.95 * n).toInt - 1)
    val winMean = q6d(cents.map(c => math.min(math.max(c, lo), hi)).sum.toDouble / n / 100.0)
    val r = run("q_winsorize").collect().head
    assert(r.getAs[Long]("lo_cents") === lo)
    assert(r.getAs[Long]("hi_cents") === hi)
    assert(r.getAs[Long]("n_rows") === n.toLong)
    assert(r.getAs[Long]("n_clip_lo") === cents.count(_ < lo).toLong)
    assert(r.getAs[Long]("n_clip_hi") === cents.count(_ > hi).toLong)
    assert(r.getAs[Double]("win_mean") === winMean)
    // the clip actually moved the mean on this fat-tailed column
    assert(r.getAs[Double]("win_mean") !== q6d(cents.sum.toDouble / n / 100.0))
  }

  /** Shared independent sessionizer: (user, session) spans from the
    * 30-minute gap rule, sweeping each user's (us, event_id)-ordered
    * timeline in plain Scala. */
  private def scalaSessions(): Seq[(Long, Seq[(Long, String)])] = {
    val ev = graft.Tables.events(spark, sf001)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS us")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("us")))
    ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._2))
      val sessions = scala.collection.mutable.ArrayBuffer.empty[
        scala.collection.mutable.ArrayBuffer[(Long, String)]]
      var prev = Long.MinValue
      ordered.foreach { case (_, _, et, us) =>
        if (sessions.isEmpty || us - prev > 1800000000L)
          sessions += scala.collection.mutable.ArrayBuffer.empty
        sessions.last += ((us, et))
        prev = us
      }
      sessions.map(s => (u, s.toSeq))
    }
  }

  test("session conversion matches an independent Scala sessionizer") {
    val sess = scalaSessions()
    val expected = sess.map { case (_, evs) =>
      (java.lang.Long.toBinaryString(evs.size.toLong).length - 1.toLong,
        evs.exists(_._2 == "purchase"))
    }.groupBy(_._1).map { case (b, xs) =>
      val conv = xs.count(_._2).toLong
      (b.toLong, (xs.size.toLong, conv, q6d(conv.toDouble / xs.size)))
    }
    val actual = run("q_session_conversion").collect().map(r =>
      (r.getAs[Long]("size_bucket"),
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_converted"),
          r.getAs[Double]("conv_rate")))).toMap
    assert(actual === expected)
  }

  test("concurrency peak matches a brute-force sampled sweep") {
    val iv = scalaSessions().map { case (_, evs) =>
      (evs.map(_._1).min, evs.map(_._1).max)
    }
    val D = 86400000000L
    val days = (iv.map(_._1 / D).min to iv.map(_._2 / D).max)
    // concurrency only changes at session starts; sampling every start
    // plus every midnight hits every level the day ever reaches
    val samples = (iv.map(_._1) ++ days.map(_ * D)).distinct
    val bf = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    samples.foreach { t =>
      val c = iv.count { case (s, e) => s <= t && t <= e }.toLong
      val d = t / D
      if (c > bf(d)) bf(d) = c
    }
    // drop zero days outside any session coverage (query emits covered days)
    val expected = bf.filter { case (d, c) =>
      c > 0 || iv.exists { case (s, e) => s / D <= d && d <= e / D } }.toMap
    val actual = run("q_concurrency_peak").collect().map(r =>
      (r.getAs[Long]("day"), r.getAs[Long]("peak"))).toMap
    assert(actual === expected)
    // base is the midnight carry-in, never exceeding the peak
    run("q_concurrency_peak").collect().foreach { r =>
      assert(r.getAs[Long]("base") <= r.getAs[Long]("peak"))
    }
  }

  test("ewma matches an independent Scala weighted-window computation") {
    val daily = graft.Tables.orders(spark, sf001)
      .selectExpr("CAST(unix_seconds(CAST(o_orderdate AS TIMESTAMP)) / 86400 AS BIGINT) AS d",
        "CAST(FLOOR(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT) AS c")
      .collect().map(r => (r.getAs[Long]("d"), r.getAs[Long]("c")))
      .groupBy(_._1).map { case (d, rs) => (d, rs.map(_._2).sum) }
    val lo = daily.keys.min
    val hi = daily.keys.max
    val cents = (lo to hi).map(d => daily.getOrElse(d, 0L)).toArray
    val expected = (lo to hi).map { d =>
      val i = (d - lo).toInt
      val wsum = (0 to 7).map { k =>
        (if (i - k >= 0) cents(i - k) else 0L) * (1L << (7 - k))
      }.sum
      (d, (cents(i), wsum, q6d(wsum.toDouble / 255.0 / 100.0)))
    }.toMap
    val actual = run("q_ewma_revenue").collect().map(r =>
      (r.getAs[Long]("day"), (r.getAs[Long]("cents"), r.getAs[Long]("wsum"),
        r.getAs[Double]("ewma_value")))).toMap
    assert(actual === expected)
  }

  test("bfs levels match an independent Scala BFS from the seed set") {
    val edges = run("q_dedup_minhash").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => (k, vs.map(_._2).toSet) }
    val nodes = adj.keySet
    val dist = scala.collection.mutable.Map.empty[Long, Int]
    var frontier = nodes.filter(_ % 16 == 0)
    frontier.foreach(dist(_) = 0)
    (1 to 4).foreach { lvl =>
      frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
      frontier.foreach(dist(_) = lvl)
    }
    val expected = nodes.toSeq.map(n => dist.getOrElse(n, -1).toLong)
      .groupBy(identity).map { case (d, xs) => (d, xs.size.toLong) }
    val actual = run("q_bfs_levels").collect().map(r =>
      (r.getAs[Long]("dist"), r.getAs[Long]("n_nodes"))).toMap
    assert(actual === expected)
    assert(actual.contains(0L), "seed level must exist")
  }

  test("shuffle shards match an independent Scala md5-ring permutation") {
    val ids = graft.Tables.documents(spark, sf001)
      .selectExpr("doc_id").collect().map(_.getAs[Long]("doc_id"))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val P = 1000000007L
    val expected = ids.map { id =>
      val h = md5hex(s"$id:shuffle")
      val shard = ((Character.digit(h(0), 16) * 16 + Character.digit(h(1), 16)) % 32).toLong
      (shard, h, id)
    }.groupBy(_._1).map { case (shard, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).zipWithIndex
      val checksum = ordered.map { case ((_, _, id), i) =>
        BigInt((id % P) * ((i + 1) % P))
      }.sum % P
      (shard, (rows.length.toLong, ordered.head._1._3, checksum.toLong))
    }
    val actual = run("q_shuffle_shards").collect().map(r =>
      (r.getAs[Long]("shard"), (r.getAs[Long]("n_docs"), r.getAs[Long]("head_doc"),
        r.getAs[Long]("checksum")))).toMap
    assert(actual === expected)
    assert(actual.size === 32, "every shard occupied at this corpus size")
  }
}
