package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark-side driver-loop execution of the Hotelling-deflation power
  * iteration ([[SqlOpsCuration.pcaDeflate]]'s `pcb_*` round chain),
  * byte-identical in arithmetic to the staged-SQL rendering the
  * DuckDB oracle runs.
  *
  * WHY a driver loop here: the staged chain materializes SIX
  * per-round parquet stages (s/w × 3 rounds) purely because the
  * rescale's MAX(ABS(col)) references its input twice and Spark
  * inlines CTEs — each stage is a full job + parquet roundtrip, and
  * the whole chain has exactly ONE consumer (this query), so the
  * cross-query reuse that justifies the stage cache never applies.
  * The loop replaces each round with ONE action (r15 — the 1-row max
  * collect folded into the vecmat SQL as an aggregate subquery): a
  * matvec over the staged deflated matrix (`pcb_cv`, which STAYS a
  * parquet stage — it is matrix-sized and multiply-referenced, and a
  * cached-relation replacement measured SLOWER through the child
  * session's global-temp path; see pcaDeflateStaged) and
  * a vecmat collect of the POS-CARDINALITY iterate (64 rows — bounded
  * by the embedding dimension, never by corpus size, so the collect
  * is the knnBruteForce constant-bounded discipline, not a
  * driver-side scale-killer). Rescale divisors are computed in-query,
  * which removes the double-reference that forced materialization.
  *
  * Arithmetic parity with the SQL chain, term by term:
  *  - round-1 start: the envelope target `tq0` multiplies every cv in
  *    the matvec — the staged `v AS (SELECT DISTINCT pos, tq …)` join
  *    assigns the same constant to every pos, so SUM(cv·tq0) is the
  *    identical product set;
  *  - interior rescales: dm = 1 + (mx−1) DIV tq on positive int64 is
  *    plain Long division; floorDiv of the possibly-negative iterate
  *    by the positive dm is Math.floorDiv on the driver and the
  *    pmod-subtract [[SqlOpsCuration.floorDiv]] rendering in SQL —
  *    equal by definition for positive divisors;
  *  - all sums stay CAST(SUM(int64·int64) AS BIGINT) inside Spark SQL
  *    over the same staged matrix, so overflow semantics and values
  *    match the staged rendering exactly;
  *  - the final µ-component conversion runs as ONE Spark SQL over a
  *    VALUES literal with the shared r6 rendering, so the IEEE
  *    double sequence is the same expression the oracle evaluates.
  *
  * The oracle gate (q_pca_deflate vs pcaDeflate.single in DuckDB)
  * proves loop == staged-CTE rendering on every Verify run, and the
  * MicroOracleSpec deflation test additionally pins loop == staged
  * Spark SQL == the independent Scala replay on the planted fixture. */
object PcaLoop {

  /** Largest T ≤ 1e6 with terms·mxcv·T ≤ 9.2e18 — the driver twin of
    * [[SqlOpsCuration.pcaTargetCte]] (double-idiv, floor-of-floor
    * conservative; all operands positive so DIV == `/`). */
  private def target(mxcv: Long, terms: Long): Long =
    math.max(1L, math.min(1000000L, 9200000000000000000L / mxcv / terms))

  /** dm = 1 + (mx−1) DIV tq — positive operands, Long division. */
  private def divisor(mx: Long, tq: Long): Long = 1L + (mx - 1L) / tq

  /** Second principal component off the staged deflated matrix: the
    * views `pcb_cv(vec_id, pos, cv)` and `pcb_env(n_vec, n_pos,
    * mxcv)` must already be registered (SparkEntry.buildStages does).
    * Returns the 64-row (pos BIGINT, component2 DOUBLE) frame —
    * identical rows to `SELECT … FROM sc` over the staged pcb_w3. */
  def deflateComponent2(spark: SparkSession): DataFrame = {
    // the envelope is a 1-row aggregate with exactly one consumer (the
    // driver targets below) — collect it directly instead of paying a
    // parquet stage roundtrip for one row. The deflation is an inner
    // join of pca_cv with its OWN per-vec_id and per-pos aggregates,
    // so it preserves the (vec_id, pos) key domain exactly: n_vec and
    // n_pos come free from the prewarmed pca_env, and only mxcv (which
    // deflation changes) needs a scan — a plain MAX, no distinct-count
    // Expand over the matrix
    val card = spark.sql("SELECT n_vec, n_pos FROM pca_env").collect()(0)
    val (nVec, nPos) = (card.getLong(0), card.getLong(1))
    val mxcv = spark.sql(
      """SELECT GREATEST(COALESCE(CAST(MAX(ABS(cv)) AS BIGINT), 1), 1)
        |FROM pcb_cv""".stripMargin).collect()(0).getLong(0)
    component(spark, "pcb_cv", nVec, nPos, mxcv, "component2")
  }

  /** FIRST principal component by the same driver loop over the
    * canonical centered matrix (`pca_cv` + its prewarmed `pca_env`)
    * — the execution path q_pca_power_iter ships: identical integer
    * arithmetic to the staged `pci_*` alias chain it replaces (which
    * re-ran seven per-round parquet stages per JVM purely for
    * first-consumer billing), proven equal by the unchanged
    * pcaPowerTimed oracle every Verify run. */
  def powerComponent1(spark: SparkSession): DataFrame = {
    val env = spark.sql("SELECT n_vec, n_pos, mxcv FROM pca_env").collect()(0)
    component(spark, "pca_cv", env.getLong(0), env.getLong(1), env.getLong(2),
      "component")
  }

  /** Per-invocation token: salts the global-temp-view and scratch-view
    * names so two concurrent invocations over the same matrix table on
    * one SparkContext cannot race on create/drop (the abMonitor
    * view-salting rule, applied here after the r13 advice). */
  private val invocations = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The shared power-iteration driver loop over a centered matrix
    * view `cvTbl(vec_id, pos, cv)` with the given envelope values;
    * `outCol` names the µ-component column (the two consumers'
    * published schemas differ only there).
    *
    * The loop's jobs run with AQE OFF on an ISOLATED child session
    * (`spark.newSession()` — shares the SparkContext and cache, owns
    * its SQL conf): every job here has a KNOWN tiny shape — a matvec
    * groupBy whose build side is ≤64 rows and aggregates that end in
    * ≤64 rows — so AQE's per-shuffle stage materialization and
    * re-plan buy nothing and bill ~0.1 s on each of the ~8 jobs
    * (re-measured r15 after the rounds collapsed to one action each:
    * AQE ON is still slower, deflate first 3.32 s vs 3.07 s quiet).
    * Values are unaffected (scheduling only). The child session makes
    * the scoping STRUCTURAL: the caller's session conf is never
    * mutated, so a concurrent consumer of the shared session can
    * never observe AQE off mid-flight (the r13 verdict's concern with
    * the previous set/restore-on-the-shared-session version). The
    * matrix view crosses sessions via a salted GLOBAL temp view (the
    * catalog of analyzed plans is SparkContext-shared; the stored
    * plan embeds the already-resolved parquet relation, no
    * session-local references), dropped in finally. */
  private def component(spark: SparkSession, cvTbl: String,
                        nVec: Long, nPos: Long, mxcv: Long,
                        outCol: String): DataFrame = {
    val token = invocations.incrementAndGet()
    val gv = s"graft_pcaloop_${cvTbl}_$token"
    spark.table(cvTbl).createOrReplaceGlobalTempView(gv)
    try {
      val child = spark.newSession()
      // newSession starts from the context defaults, NOT the parent's
      // runtime conf — copy it so the loop executes under the same
      // shuffle-partition/timezone settings the oracle gate verified
      // (static/immutable entries just refuse the set; skip them)
      spark.conf.getAll.foreach { case (k, v) =>
        try child.conf.set(k, v) catch { case _: Throwable => () }
      }
      child.conf.set("spark.sql.adaptive.enabled", "false")
      graft.functions.GraftFunctions.registerAll(child)
      componentLoop(child, s"global_temp.$gv", s"${cvTbl}_$token",
        nVec, nPos, mxcv, outCol)
    } finally {
      spark.catalog.dropGlobalTempView(gv)
      ()
    }
  }

  /** `cvTbl` is the (possibly `global_temp.`-qualified) matrix view to
    * read; `scratchTag` salts the per-round scratch-view name (a
    * qualified name cannot be embedded in a view identifier, and the
    * salt keeps concurrent invocations apart). */
  private def componentLoop(spark: SparkSession, cvTbl: String,
                            scratchTag: String,
                            nVec: Long, nPos: Long, mxcv: Long,
                            outCol: String): DataFrame = {
    val tqS = target(mxcv, math.max(nVec, 1L))
    val tqW = target(mxcv, math.max(nPos, 1L))
    val rounds = SqlOps.PcaRounds
    // v: the current pos-grain iterate as (pos, vq) literals; None =
    // the all-ones start at tqW (round 1 multiplies by the constant)
    var v: Option[Array[(Long, Long)]] = None
    var w: Array[(Long, Long)] = Array.empty
    def fd(a: String, b: String): String = SqlOps.floorDiv(SparkDialect)(a, b)
    // an empty matrix yields an empty round-1 matvec: stop iterating
    // (a later round would otherwise render an empty VALUES list — a
    // parse error where the staged rendering returns an empty frame)
    var r = 0
    while (r < rounds && (r == 0 || w.nonEmpty)) {
      r += 1
      val matvec = v match {
        case None =>
          s"""SELECT c.vec_id, CAST(SUM(c.cv * $tqW) AS BIGINT) AS sv
             |FROM $cvTbl c GROUP BY c.vec_id""".stripMargin
        case Some(vs) =>
          val lits = vs.map { case (p, q) => s"($p, $q)" }.mkString(", ")
          s"""SELECT c.vec_id, CAST(SUM(c.cv * v.vq) AS BIGINT) AS sv
             |FROM $cvTbl c JOIN (VALUES $lits) v(pos, vq) ON c.pos = v.pos
             |GROUP BY c.vec_id""".stripMargin
      }
      // the N-row matvec is consumed twice (max, then vecmat) —
      // persist the (tiny: vec-grain, two int64 cols) result instead
      // of recomputing the matrix join, and drop it before the next
      // round so the loop's memory footprint stays one iterate.
      // ONE view name across rounds, and the round-varying rescale
      // divisor rides as a 1-row VALUES: the SQL TEXT still differs
      // per round (the literal is interpolated), but constant folding
      // lands the value in LocalRelation DATA, not in the generated
      // code — so the whole-stage codegen SOURCE for the join shape
      // is identical across rounds and the compile is reused (an
      // inline `/ $dm` literal lands in the source and forces a
      // recompile per round; measured ~0.1 s/round here)
      val sDf = spark.sql(matvec).persist()
      val sView = s"__pca_loop_s_$scratchTag"
      sDf.createOrReplaceTempView(sView)
      try {
        // the rescale divisor dm = 1 + (max|sv| − 1) DIV tqS rides as
        // a 1-row aggregate SUBQUERY over the persisted matvec (r15)
        // instead of a separate collect round trip: the max job +
        // driver hop per round is gone (one action per round instead
        // of two — ~0.1 s/round of scheduling on the 8-job loop), the
        // arithmetic is identical (all operands positive, SQL DIV ==
        // Long division == the old driver `divisor`), and tqS is a
        // per-invocation constant so the SQL text — and therefore the
        // whole-stage codegen source — is STILL identical across
        // rounds (the property the VALUES form existed for).
        w = spark.sql(
          s"""SELECT CAST(c.pos AS BIGINT) AS pos,
             |  CAST(SUM(c.cv * ${fd("s.sv", "d.dm")}) AS BIGINT) AS w
             |FROM $cvTbl c JOIN $sView s ON c.vec_id = s.vec_id
             |CROSS JOIN (
             |  SELECT CAST(1 + (GREATEST(COALESCE(CAST(MAX(ABS(sv)) AS BIGINT), 1), 1) - 1)
             |              DIV $tqS AS BIGINT) AS dm
             |  FROM $sView
             |) d
             |GROUP BY c.pos""".stripMargin)
          .collect().map(row => (row.getLong(0), row.getLong(1)))
      } finally {
        spark.catalog.dropTempView(sView)
        sDf.unpersist()
        ()
      }
      if (r < rounds) {
        val mxW = math.max(w.map(x => math.abs(x._2)).foldLeft(1L)(math.max), 1L)
        val dmW = divisor(mxW, tqW)
        v = Some(w.map { case (p, x) => (p, Math.floorDiv(x, dmW)) })
      }
    }
    // final µ-component: fixed 1e6 target (the published contract),
    // r6 evaluated BY Spark SQL over a VALUES literal so the IEEE
    // double sequence is the exact body expression
    if (w.isEmpty)
      return spark.sql(
        s"SELECT CAST(pos AS BIGINT) AS pos, CAST(c2 AS DOUBLE) AS $outCol " +
          "FROM (VALUES (0, 0.0)) t(pos, c2) WHERE 1 = 0")
    val mxF = math.max(w.map(x => math.abs(x._2)).max, 1L)
    val dmF = divisor(mxF, 1000000L)
    val lits = w
      .map { case (p, x) => s"($p, ${Math.floorDiv(x, dmF)})" }.mkString(", ")
    spark.sql(
      s"""SELECT CAST(pos AS BIGINT) AS pos,
         |  ${SqlOps.r6("CAST(vq AS DOUBLE) / 1.0e6")} AS $outCol
         |FROM (VALUES $lits) t(pos, vq)""".stripMargin)
  }
}
